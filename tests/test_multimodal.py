"""Multimodal plumbing tests: schemas, batch shapes, 1→1 and 1→N fan-out,
determinism, real BMP/WAV decode round trips, the compressed-codec stub
contract, the one-kernel source gate, and the perceptual-hash and
scene-cut queries against pure-Python replays."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

import pytest

from go_web_mapreduce_spark.operators import multimodal
from go_web_mapreduce_spark.operators.multimodal import (
    DECODERS,
    SCENE_CUT_SUM,
    VIDEO_FRAMES,
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
    q_video_scene_cut,
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


def _owners(tree: ast.Module, hit) -> list[str]:
    """The top-level function (or ``<module>``) around each node under
    ``tree`` for which ``hit(node)`` holds, one entry per node."""
    out = []
    for stmt in tree.body:
        owner = stmt.name if isinstance(stmt, ast.FunctionDef) else "<module>"
        out += [owner for n in ast.walk(stmt) if hit(n)]
    return out


def _calls(name: str):
    return lambda n: isinstance(n, ast.Call) and name in (
        getattr(n.func, "attr", None),
        getattr(n.func, "id", None),
    )


def test_multimodal_family_runs_on_one_synthesis_and_one_decode_kernel():
    """Every multimodal query goes through ``synthesized`` (the only
    ``fan_out`` and one ``mapInPandas``), ``per_payload`` (the other
    ``mapInPandas``) and ``hash_census`` (the only ``pin``), and the AVI
    demuxer is reached only through its DECODERS entry."""
    tree = ast.parse(Path(multimodal.__file__).read_text())
    assert sorted(_owners(tree, _calls("mapInPandas"))) == [
        "per_payload",
        "synthesized",
    ]
    assert _owners(tree, _calls("fan_out")) == ["synthesized"]
    assert _owners(tree, _calls("pin")) == ["hash_census"]
    avi = _owners(
        tree,
        lambda n: (isinstance(n, ast.Name) and n.id == "decode_avi_mjpeg")
        or (isinstance(n, ast.alias) and n.name == "decode_avi_mjpeg"),
    )
    assert set(avi) == {DECODERS["video/x-msvideo"].__name__}


def test_image_phash_is_container_invariant_and_matches_replay(spark, sf_dir):
    import numpy as np

    from go_web_mapreduce_spark.operators.multimodal import (
        IMG_H,
        IMG_W,
        PHASH_GRID,
        decode_payload,
        encode_bmp,
        encode_gif,
        encode_png,
        q_image_dedup_phash,
    )

    # same pixels through all three containers -> identical perceptual hash
    def ahash(px):
        g = px.astype("int64")[::2, ::2][:PHASH_GRID, :PHASH_GRID].sum(axis=2)
        return tuple((PHASH_GRID * PHASH_GRID * g >= g.sum()).ravel())

    raw = b"the quick brown fox jumps over the lazy dog 0123456789 " * 14
    n_px = IMG_W * IMG_H * 3
    px = np.frombuffer((raw * 2)[:n_px], np.uint8).reshape(IMG_H, IMG_W, 3)
    h_bmp = ahash(decode_payload("image/bmp", encode_bmp(px)))
    h_png = ahash(decode_payload("image/png", encode_png(px)))
    h_gif = ahash(decode_payload("image/gif", encode_gif(px)))
    assert h_bmp == h_png == h_gif
    # flipping bright pixels to dark must change the hash
    px2 = px.copy()
    px2[0, 0:8] = 255
    assert ahash(px2) != h_bmp

    # per-source census matches a pure-python replay over the tiled bytes
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    by_src: dict = defaultdict(list)
    for r in docs:
        raw = r["text"].encode("utf-8")
        if not raw or len(raw) != len(r["text"]):
            continue
        reps = -(-n_px // len(raw))
        px = np.frombuffer((raw * reps)[:n_px], np.uint8).reshape(IMG_H, IMG_W, 3)
        by_src[r["source"]].append(ahash(px))
    spread: dict = defaultdict(set)
    for src, hs in by_src.items():
        for h in hs:
            spread[h].add(src)
    got = {r["source"]: r for r in q_image_dedup_phash(spark, sf_dir).collect()}
    assert set(got) == set(by_src)
    for src, hs in by_src.items():
        g = got[src]
        assert g["n_images"] == len(hs)
        assert g["distinct_hashes"] == len(set(hs))
        assert g["n_dup_within"] == len(hs) - len(set(hs))
        assert g["n_shared_hash"] == sum(1 for h in hs if len(spread[h]) >= 2)

def test_audio_fingerprint_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.multimodal import (
        AUDIO_BYTES,
        FP_WIN,
        FP_WINDOWS,
        q_audio_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    fps = []
    for r in docs:
        raw = r["text"].encode("utf-8")
        if not raw or len(raw) != len(r["text"]):
            continue  # the ASCII gate both engines apply
        pcm = (raw * (-(-AUDIO_BYTES // len(raw))))[:AUDIO_BYTES]
        samples = [
            pcm[2 * i] + 256 * pcm[2 * i + 1] for i in range(AUDIO_BYTES // 2)
        ]
        en = [
            sum(s * s for s in samples[w * FP_WIN : (w + 1) * FP_WIN])
            for w in range(FP_WINDOWS)
        ]
        fp = "".join(
            "1" if en[k + 1] > en[k] else "0" for k in range(FP_WINDOWS - 1)
        )
        fps.append((r["source"], fp))
    per_src: dict = defaultdict(list)
    spread: dict = defaultdict(set)
    for src, fp in fps:
        per_src[src].append(fp)
        spread[fp].add(src)

    got = {r["source"]: r for r in q_audio_fingerprint(spark, sf_dir).collect()}
    assert set(got) == set(per_src)
    for src, lst in per_src.items():
        g = got[src]
        assert g["n_clips"] == len(lst)
        assert g["distinct_fps"] == len(set(lst))
        assert g["n_dup_within"] == len(lst) - len(set(lst))
        assert g["n_shared_fp"] == sum(1 for fp in lst if len(spread[fp]) >= 2)

def test_scene_cut_counts_are_consistent(spark, sf_dir):
    rows = q_video_scene_cut(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_transitions"] == r["n_videos"] * (VIDEO_FRAMES - 1)
        assert 0 <= r["n_cuts"] <= r["n_transitions"]
        # every counted cut contributes at least the threshold to the sum
        assert r["diff_sum"] >= r["n_cuts"] * SCENE_CUT_SUM
        # 16x16 uint8 frames bound any single transition diff
        assert 0 <= r["max_diff"] <= 255 * 256
