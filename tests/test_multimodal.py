"""Multimodal plumbing tests: schemas, batch shapes, 1→1 and 1→N fan-out,
determinism, real BMP/WAV decode round trips, and the compressed-codec
stub contract."""

from __future__ import annotations

import pytest

from go_web_mapreduce_spark.operators.multimodal import (
    as_media_table,
    ascii_documents,
    decode_bmp,
    decode_payload,
    decode_png,
    decode_wav,
    encode_bmp,
    encode_png,
    extract_features,
    media_features,
    synthesize_image_table,
)
from go_web_mapreduce_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return as_media_table(load_table(spark, sf_dir, "documents"))


def test_compressed_decode_is_an_explicit_stub():
    # JPEG decodes for real since round 4 (functions/jpeg.py); MP3/MP4
    # genuinely need ffmpeg-class libraries and must refuse loudly
    with pytest.raises(NotImplementedError, match="codec"):
        decode_payload("audio/mpeg", b"\xff\xfb\x90")
    with pytest.raises(NotImplementedError, match="codec"):
        decode_payload("video/mp4", b"\x00\x00\x00\x18ftyp")


def test_bmp_round_trip_exact():
    """encode→decode must return the original pixel array bit-for-bit,
    including odd widths that force row padding."""
    import numpy as np

    rng = np.random.default_rng(7)
    for w, h in ((16, 16), (5, 3), (1, 1), (7, 2)):
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        back = decode_bmp(encode_bmp(px))
        assert back.shape == (h, w, 3)
        assert (back == px).all()


def test_png_round_trip_exact_all_filters():
    """encode→decode must return the original pixels bit-for-bit for RGB
    and RGBA, with the encoder cycling every scanline filter type (0–4) so
    each unfilter branch is exercised, and with filter-0-only encoding."""
    import numpy as np

    rng = np.random.default_rng(7)
    for w, h, ch in ((16, 16, 3), (5, 3, 3), (1, 1, 3), (7, 2, 4), (33, 9, 4)):
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        for vary in (True, False):
            back = decode_png(encode_png(px, vary_filters=vary))
            assert back.shape == (h, w, ch)
            assert (back == px).all()


def test_png_structure_is_spec_conformant():
    """The emitted file must be a spec-shaped PNG: signature, IHDR first
    with correct dims, IDAT inflates to (stride+1)*h filtered bytes, IEND
    last, and every chunk CRC valid."""
    import struct
    import zlib

    import numpy as np

    px = np.arange(4 * 6 * 3, dtype=np.uint32).reshape(4, 6, 3) % 256
    data = encode_png(px.astype(np.uint8))
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    pos, chunks = 8, []
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        assert crc == zlib.crc32(ctype + body) & 0xFFFFFFFF
        chunks.append((ctype, body))
        pos += 12 + length
    assert chunks[0][0] == b"IHDR" and chunks[-1][0] == b"IEND"
    w, h, depth, ctype_ = struct.unpack_from(">IIBB", chunks[0][1])
    assert (w, h, depth, ctype_) == (6, 4, 8, 2)
    raw = zlib.decompress(b"".join(b for t, b in chunks if t == b"IDAT"))
    assert len(raw) == (6 * 3 + 1) * 4


def test_png_rejects_unsupported():
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"nope")
    with pytest.raises(NotImplementedError, match="codec"):
        decode_payload("video/mp4", b"\x00\x00\x00\x18ftyp")


def test_media_features_are_real_statistics():
    import numpy as np

    g = (np.arange(16 * 16 * 3, dtype=np.uint32) % 256).reshape(16, 16, 3)
    f = media_features(g.astype(np.uint8))
    v = g.astype(np.float64).ravel()
    assert f == [
        v.mean(), v.std(), 0.0, 255.0,
        np.percentile(v, 25), np.percentile(v, 50), np.percentile(v, 75),
        768.0,
    ]


def test_synthesized_images_decode_to_tiled_text(spark, sf_dir):
    """All three formats of the mixed table must decode back to the
    document's tiled utf-8 bytes — the invariant the decode oracle checks
    in bulk."""
    import numpy as np

    docs = ascii_documents(load_table(spark, sf_dir, "documents")).limit(6)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    media = synthesize_image_table(docs)
    seen_mimes = set()
    for r in media.collect():
        raw = texts[r["doc_id"]].encode("utf-8")
        want = (raw * (-(-768 // len(raw))))[:768]
        px = decode_payload(r["mime"], bytes(r["payload"]))
        seen_mimes.add(r["mime"])
        assert bytes(np.asarray(px, np.uint8).reshape(-1)) == want
    assert seen_mimes == {"image/bmp", "image/png", "image/gif"}


def test_features_real_for_decodable_mimes(spark, sf_dir):
    """extract_features must consume real pixels (not the md5 stand-in)
    for decodable payloads: the feature vector equals media_features of
    the decoded array."""
    docs = ascii_documents(load_table(spark, sf_dir, "documents")).limit(4)
    media = synthesize_image_table(docs)
    payloads = {r["doc_id"]: (r["mime"], bytes(r["payload"])) for r in media.collect()}
    for r in extract_features(media, double=True).collect():
        mime, payload = payloads[r["doc_id"]]
        want = media_features(decode_payload(mime, payload))
        assert list(r["features"]) == want


def test_wav_round_trip_exact(tmp_path):
    import io
    import wave

    import numpy as np

    rng = np.random.default_rng(11)
    samples = rng.integers(-32768, 32767, size=(441, 2), dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(44100)
        wf.writeframes(samples.tobytes())
    back = decode_payload("audio/wav", buf.getvalue())
    assert back.shape == (441, 2)
    assert (back == samples).all()


def test_features_fixed_width(media):
    rows = extract_features(media).limit(5).collect()
    assert all(len(r["features"]) == 8 for r in rows)


def test_features_consistent_with_digest(media):
    """Every feature component must be the float32 of its digest slice —
    the invariant the hash-checked query (sum over digest) relies on."""
    import numpy as np

    for r in extract_features(media).limit(10).collect():
        want = [
            np.float32(int(r["digest"][4 * i : 4 * i + 4], 16) / 65535.0)
            for i in range(len(r["features"]))
        ]
        assert [np.float32(f) for f in r["features"]] == want


def test_fan_out_widens_small_scans_only(spark, sf_dir):
    """fan_out must widen a single-partition scan to defaultParallelism
    (the CPU-bound-Python fix) and leave already-wide inputs alone."""
    from go_web_mapreduce_spark.sources.tables import fan_out

    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    wide = fan_out(docs)
    assert (
        wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
    # already-wide input: no extra shuffle appended
    wider = wide.repartition(spark.sparkContext.defaultParallelism * 2)
    assert fan_out(wider) is wider
    # values unaffected
    assert wide.count() == docs.count()


def test_media_synthesis_parallelizes(spark, sf_dir):
    """The media kernels must not serialize on the scan's byte-sized
    partitioning: the synthesized table carries >1 partition."""
    media = synthesize_image_table(load_table(spark, sf_dir, "documents"))
    assert media.rdd.getNumPartitions() > 1
