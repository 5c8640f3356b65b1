"""GIF codec unit tests: exact round trips through the pure-stdlib LZW
encoder/decoder (functions/gif.py), including the paths the 16×16 query
payloads can't reach — full 9→12-bit width walk and the 4096-entry table
reset — plus container-level validation."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from go_web_mapreduce_spark.functions.gif import decode_gif, encode_gif


def _roundtrip(px):
    data = encode_gif(px)
    back = decode_gif(data)
    assert back.dtype == np.uint8 and back.shape == px.shape
    assert np.array_equal(back, px)
    return data


def test_text_tile_roundtrip():
    raw = (b"key agg row scan slow fast table value part hash " * 20)[:768]
    _roundtrip(np.frombuffer(raw, np.uint8).reshape(16, 16, 3))


def test_flat_color_roundtrip():
    _roundtrip(np.full((16, 16, 3), 77, np.uint8))


def test_max_palette_roundtrip():
    """256 distinct colors — the palette-size boundary."""
    g = np.arange(256, dtype=np.uint8)
    px = np.stack([g, g[::-1], (g * 7).astype(np.uint8)], -1).reshape(16, 16, 3)
    _roundtrip(px)


def test_too_many_colors_refused():
    rng = np.random.default_rng(0)
    px = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    assert len(np.unique(px.reshape(-1, 3), axis=0)) > 256
    with pytest.raises(ValueError, match="256"):
        encode_gif(px)


def test_width_walk_and_table_reset_roundtrip():
    """Large 2-color noise: the LZW table must grow through every code
    width 3..12 and hit the 4096-entry clear-code reset at least once —
    verified by replaying the encoder's dictionary on the same indices."""
    rng = np.random.default_rng(3)
    plane = rng.integers(0, 2, (256, 256)).astype(np.uint8) * 200
    px = np.stack([plane, plane, plane], -1)
    _roundtrip(px)
    # prove the reset path actually ran for this input
    flat = px.reshape(-1, 3)
    _, indices = np.unique(flat, axis=0, return_inverse=True)
    clear, eoi = 4, 5
    table = {bytes([i]): i for i in range(clear)}
    next_code, w, resets = eoi + 1, b"", 0
    for k in indices:
        wk = w + bytes([int(k)])
        if wk in table:
            w = wk
            continue
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
        else:
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            resets += 1
        w = bytes([int(k)])
    assert resets >= 1


def test_container_fields():
    px = np.full((16, 16, 3), 5, np.uint8)
    data = encode_gif(px)
    assert data[:6] == b"GIF87a"
    assert data[-1] == 0x3B
    import struct

    w, h = struct.unpack("<HH", data[6:10])
    assert (w, h) == (16, 16)


def test_decoder_rejects_non_gif():
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"\x89PNG\r\n\x1a\nnope")


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    ncolors=st.integers(1, 256),
    seed=st.integers(0, 2**31 - 1),
)
def test_random_images_roundtrip_exactly(w, h, ncolors, seed):
    """Any image with ≤256 distinct colors must survive the GIF round trip
    bit-for-bit — arbitrary dimensions, palette sizes (hitting every
    min-code-size), and pixel layouts."""
    rng = np.random.default_rng(seed)
    palette = rng.integers(0, 256, (ncolors, 3)).astype(np.uint8)
    idx = rng.integers(0, ncolors, (h, w))
    px = palette[idx]
    data = encode_gif(px)
    assert np.array_equal(decode_gif(data), px)


@settings(max_examples=25, deadline=None)
@given(cut=st.integers(1, 200))
def test_truncated_gif_raises_or_decodes_exactly(cut):
    """A truncated GIF must either raise ValueError or — when only
    trailing bytes past the complete image data are cut (e.g. the 0x3B
    trailer) — still decode to the exact image. Never a wrong image,
    never a non-ValueError exception."""
    px = np.full((16, 16, 3), 7, np.uint8)
    data = encode_gif(px)
    if cut >= len(data):
        return
    try:
        out = decode_gif(data[:cut])
    except ValueError:
        return
    assert np.array_equal(out, px)


# decode_gif refuses animated/multi-image GIFs: silently decoding only the
# first frame would be a wrong answer, not a degraded one


def _animated_gif() -> bytes:
    """Append a second image (copy of the first) before the trailer."""
    px = np.zeros((4, 4, 3), np.uint8)
    px[0, 0] = (255, 0, 0)
    data = bytearray(encode_gif(px))
    assert data[-1] == 0x3B
    # locate the first image descriptor (0x2C) after the 13-byte header +
    # global color table; splice a second copy of everything from there
    # to the block terminator, in front of the trailer
    pos = 13 + 3 * (2 << (data[10] & 0x07))
    frame = bytes(data[pos:-1])  # descriptor .. block terminator
    return bytes(data[:-1]) + frame + b"\x3b"


def test_gif_single_image_roundtrip_still_works():
    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    assert np.array_equal(decode_gif(encode_gif(px)), px)


def test_gif_animated_refused():
    with pytest.raises(ValueError, match="trailer|animated|multi-image"):
        decode_gif(_animated_gif())


def test_gif_missing_trailer_refused():
    px = np.zeros((4, 4, 3), np.uint8)
    data = encode_gif(px)[:-1]  # strip the 0x3B trailer
    with pytest.raises(ValueError, match="trailer|animated|multi-image"):
        decode_gif(data)
