"""Unit tests for the training-data operators + plan-hygiene assertions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plume_spark.operators import dedup, similarity, text, traversal
from plume_spark.operators.multimodal import (
    decode_real,
    extract_features,
    frame_sample_plan,
    synthetic_media,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
        (2, "completely different text about spark catalyst optimizer plans"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (4, "el perro grande corre por la calle con el gato pequeno"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = {r["doc_id"]: (r["keeper_id"], r["group_size"]) for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == (0, 2) and out[3] == (0, 2)
    assert out[1] == (1, 1) and out[2] == (2, 1)


def test_minhash_and_ngram_agree(docs):
    mh = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_dedup(docs, tau=0.5).collect()}
    ng = {(r["doc_a"], r["doc_b"]) for r in dedup.ngram_jaccard_pairs(docs, tau=0.5).collect()}
    assert (0, 3) in ng and (0, 1) in ng and (1, 3) in ng
    assert not any(2 in p or 4 in p for p in ng)
    assert mh <= ng  # LSH can only miss, never invent (verification is exact)
    assert (0, 3) in mh  # identical docs always collide in every band


def test_simhash_hamming(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert sh[0] == sh[3]
    assert ham(sh[0], sh[1]) <= ham(sh[0], sh[2])


def test_text_operators(docs):
    stats = {r["doc_id"]: r for r in text.token_stats(docs).collect()}
    assert stats[0]["n_tokens"] == 13
    q = {r["doc_id"]: r for r in text.quality_score(docs).collect()}
    assert 0 <= q[0]["quality"] <= 1 and q[0]["punct_ratio"] == 0.0
    lang = {r["doc_id"]: r["pred_lang"] for r in text.language_id(docs).collect()}
    assert lang[0] == "en" and lang[4] == "es"
    fp = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(docs).collect()}
    assert fp[0] == fp[3] and fp[0] != fp[1]


def test_similarity(spark):
    import math

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [-1.0, 0.0, 0.0, 0.0], 1),
        (4, [0.8, 0.2, 0.0, 0.0], 0),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    top = dedup_free = similarity.brute_force_topk(emb, query_vec_id=0, k=3).collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["cos_sim"] - 1.0) < 1e-6
    assert [r["vec_id"] for r in top] == [0, 1, 4]
    buckets = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(emb).collect()}
    assert buckets[0] == buckets[1]  # near vectors share hyperplane signs
    assert buckets[0] != buckets[3]  # antipodal vectors flip every sign
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in similarity.blocked_cosine_pairs(emb, "label", tau=0.9).collect()
    }
    assert (0, 1) in pairs and (2, 3) not in pairs


def test_embedding_neardup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),    # antipodal
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in dedup.embedding_neardup(emb, tau=0.9).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    # antipodal pair can never share an LSH bucket; orthogonal fails tau
    assert not any(3 in p or 2 in p for p in pairs)


def test_cli_build_query_export(spark, tmp_path):
    """CLI surface (M5): build from generated transcripts, then query and
    export against the same store — all through __main__.main."""
    from plume_spark.__main__ import main

    store = str(tmp_path / "store")
    assert main(["build", "--generate", "12", "--store", store, "--seed", "3"]) == 0
    assert main(["query", "--store", store]) == 0
    out = str(tmp_path / "kg.graphml")
    assert main(["export", "--store", store, "--out", out, "--format", "graphml"]) == 0
    content = open(out).read()
    assert content.startswith("<?xml") and "<node id=" in content and "<edge id=" in content
    assert main(["clear", "--store", store]) == 0
    # stream subcommand: drain a landed file into a fresh store
    from plume_spark.generator import generate_transcripts

    inbox = str(tmp_path / "inbox")
    generate_transcripts(spark, 6, seed=3).coalesce(1).write.parquet(inbox)
    store2 = str(tmp_path / "store2")
    assert main(["stream", "--input", inbox, "--store", store2]) == 0
    # maintain subcommand: compaction + expiry leave the graph readable and
    # the bucketed layout intact (point reads still prune)
    assert main(["maintain", "--store", store2, "--expire", "1"]) == 0
    from plume_spark.store.graph import GraphStore

    s2 = GraphStore(spark, store2)
    assert s2.triples.row_count() > 0
    assert [m["version"] for m in s2.triples.snapshots()] == [s2.triples._current_version()]
    some = s2.entities.read().select("entity_id").first()["entity_id"]
    assert len(s2.entities.files_for(point={"entity_id": some})) < len(s2.entities.files_for())
    # dedup-stream subcommand: drain documents against a fresh index, then a
    # second invocation with no new files is a no-op
    docs_in = str(tmp_path / "docs-in")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").coalesce(1).write.parquet(docs_in)
    idx_dir = str(tmp_path / "dedup-idx")
    assert main(["dedup-stream", "--input", docs_in, "--index", idx_dir]) == 0
    from plume_spark.streaming import DedupIndex

    idx = DedupIndex(spark, idx_dir)
    n_pairs = idx.pairs.row_count()
    assert n_pairs > 0
    assert main(["dedup-stream", "--input", docs_in, "--index", idx_dir]) == 0
    assert idx.pairs.row_count() == n_pairs


def test_ivf_topk_matches_brute_on_probed_cells(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    rows = [(i, [float(x) for x in rng.normal(size=8)], i % 3) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    approx = similarity.ivf_topk(emb, query_vec_id=5, k=5, n_centroids=4, n_probe=4)
    exact = similarity.brute_force_topk(emb, query_vec_id=5, k=5)
    # with n_probe = n_centroids the IVF search is exhaustive => identical
    assert [r["vec_id"] for r in approx.collect()] == [r["vec_id"] for r in exact.collect()]


def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, n=9, seed=1)
    feats = extract_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 9
    assert all(len(r["feature"]) == 16 for r in rows.values())
    # deterministic: same input -> same features
    again = {r["media_id"]: r for r in extract_features(synthetic_media(spark, n=9, seed=1)).collect()}
    assert all(rows[i]["checksum"] == again[i]["checksum"] for i in rows)
    assert all(rows[i]["feature"] == again[i]["feature"] for i in rows)
    # frame sampling plan never touches payload
    plan = frame_sample_plan(media, every_ms=1000)
    assert plan.count() > 0 and "payload" not in plan.columns
    # resize: images become out_w x out_h byte grids, deterministic; other
    # modalities pass through byte-identical
    from plume_spark.operators.multimodal import resize_images

    orig = {r["media_id"]: r for r in media.collect()}
    rs = {r["media_id"]: r for r in resize_images(media, out_w=8, out_h=6).collect()}
    assert set(rs) == set(orig)
    for i, r in rs.items():
        if orig[i]["modality"] == "image":
            assert (r["width"], r["height"]) == (8, 6)
            assert len(r["payload"]) == 8 * 6
        else:
            assert bytes(r["payload"]) == bytes(orig[i]["payload"])
            assert r["duration_ms"] == orig[i]["duration_ms"]
    again = {
        r["media_id"]: r
        for r in resize_images(synthetic_media(spark, n=9, seed=1), out_w=8, out_h=6).collect()
    }
    assert all(bytes(again[i]["payload"]) == bytes(rs[i]["payload"]) for i in rs)
    from plume_spark.operators.multimodal import HAVE_PIL

    if not HAVE_PIL:
        with pytest.raises(NotImplementedError):
            decode_real(b"xx", "image/png")
    with pytest.raises(NotImplementedError):
        decode_real(b"xx", "video/mp4")


def _wav_bytes(samples, rate=8000):
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def test_multimodal_real_wav_decode(spark):
    """audio/wav real decode rides the stdlib wave module — no optional dep,
    so the REAL path (decode -> featurize -> mapInPandas) is exercised in
    every environment, not just pillow-equipped ones."""
    import numpy as np

    from plume_spark.operators.multimodal import (
        FEATURE_DIM,
        MEDIA,
        extract_features,
        real_decoder,
    )

    samples = [0, 16384, -16384, 32767, -32768] * 20
    payload = _wav_bytes(samples)
    pcm = decode_real(payload, "audio/wav")
    assert np.allclose(pcm[:5] * 32768.0, samples[:5])
    media = spark.createDataFrame(
        [(1, "audio", "audio/wav", payload, None, None, 12)], schema=MEDIA
    )
    rows = extract_features(media, decoder=real_decoder).collect()
    assert len(rows) == 1 and len(rows[0]["feature"]) == FEATURE_DIM
    # deterministic and equal to driver-side decode+pool
    from plume_spark.operators.multimodal import featurize

    expect = [float(x) for x in featurize(pcm)]
    assert rows[0]["feature"] == expect


def _pnm_bytes(arr, rgb: bool = False) -> bytes:
    """Minimal binary netpbm encoder (P5 gray / P6 RGB) for fixtures."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w = a.shape[:2]
    magic = b"P6" if rgb else b"P5"
    return magic + f"\n# fixture\n{w} {h}\n255\n".encode() + a.tobytes()


def test_multimodal_real_image_decode(spark):
    """The REAL image branch of decode_real, exercised without pillow: the
    pure-Python netpbm (P5/P6) decoder must recover the exact pixel grid,
    collapse RGB with pillow's integer luma, and ride the full
    extract_features mapInPandas path.  When pillow IS present, its decode
    of the same P5 payload must agree bit-for-bit."""
    import numpy as np

    from plume_spark.operators.multimodal import (
        FEATURE_DIM,
        HAVE_PIL,
        MEDIA,
        extract_features,
        featurize,
        real_decoder,
    )

    gray = (np.arange(48, dtype=np.uint8).reshape(6, 8) * 5) % 255
    p5 = _pnm_bytes(gray)
    grid = decode_real(p5, "image/x-portable-graymap")
    assert grid.shape == (6, 8)
    assert np.array_equal(grid, gray.astype(np.float64) / 255.0)

    rgb = np.stack([gray, 255 - gray, gray // 2], axis=-1)
    p6 = _pnm_bytes(rgb, rgb=True)
    grid6 = decode_real(p6, "image/x-portable-pixmap")
    luma = (
        rgb[..., 0].astype(np.uint32) * 299
        + rgb[..., 1].astype(np.uint32) * 587
        + rgb[..., 2].astype(np.uint32) * 114
    ) // 1000
    assert np.array_equal(grid6, luma.astype(np.float64) / 255.0)

    if HAVE_PIL:  # parity with pillow on the identical payload
        import io

        from PIL import Image

        pil = np.asarray(Image.open(io.BytesIO(p6)).convert("L"), dtype=np.float64)
        assert np.array_equal(grid6, pil / 255.0)

    media = spark.createDataFrame(
        [
            (1, "image", "image/x-portable-graymap", p5, 8, 6, None),
            (2, "image", "image/x-portable-pixmap", p6, 8, 6, None),
        ],
        schema=MEDIA,
    )
    rows = {r["media_id"]: r for r in extract_features(media, decoder=real_decoder).collect()}
    assert len(rows) == 2
    assert rows[1]["feature"] == [float(x) for x in featurize(grid)]
    assert rows[2]["feature"] == [float(x) for x in featurize(grid6)]
    assert all(len(r["feature"]) == FEATURE_DIM for r in rows.values())


def _png_bytes(arr, ctype: int, filters=None, plte=None, interlace: int = 0) -> bytes:
    """Minimal PNG encoder for fixtures: 8-bit, one explicit filter type per
    scanline so every reconstruction filter (None/Sub/Up/Average/Paeth) in
    the decoder is exercised against an independently-built stream."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[..., None]
    h, w, ch = a.shape
    stride, bpp = w * ch, ch

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    def paeth(pa_, pb_, pc_):
        p = pa_ + pb_ - pc_
        da, db, dc = abs(p - pa_), abs(p - pb_), abs(p - pc_)
        return pa_ if da <= db and da <= dc else (pb_ if db <= dc else pc_)

    raw = bytearray()
    prev = bytes(stride)
    filters = filters if filters is not None else [0] * h
    for y in range(h):
        line = a[y].tobytes()
        f = filters[y]
        raw.append(f)
        for i in range(stride):
            left = line[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            pred = {0: 0, 1: left, 2: up, 3: (left + up) >> 1, 4: paeth(left, up, ul)}[f]
            raw.append((line[i] - pred) & 0xFF)
        prev = line
    body = chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, interlace))
    if plte is not None:
        body += chunk(b"PLTE", np.asarray(plte, dtype=np.uint8).tobytes())
    body += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + body


def _qoi_bytes(rgb) -> bytes:
    """Spec-faithful QOI encoder (qoiformat.org v1.0) for fixtures: emits
    RUN / INDEX / DIFF / LUMA / RGB ops exactly as the reference encoder
    would, so the decoder under test is exercised against an independently
    built stream (same policy as _png_bytes)."""
    h, w, _ = rgb.shape
    out = bytearray(b"qoif")
    out += w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([3, 0])
    index = [(0, 0, 0, 0)] * 64
    pr, pg, pb, pa = 0, 0, 0, 255
    run = 0
    for y in range(h):
        for x in range(w):
            r, g, b = (int(v) for v in rgb[y, x])
            if (r, g, b) == (pr, pg, pb):
                run += 1
                if run == 62:
                    out.append(0xC0 | (run - 1))
                    run = 0
                continue
            if run:
                out.append(0xC0 | (run - 1))
                run = 0
            k = (r * 3 + g * 5 + b * 7 + 255 * 11) % 64
            if index[k] == (r, g, b, 255):
                out.append(k)
            else:
                index[k] = (r, g, b, 255)
                dr = (r - pr + 128) % 256 - 128
                dg = (g - pg + 128) % 256 - 128
                db = (b - pb + 128) % 256 - 128
                if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                    out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
                elif (
                    -32 <= dg <= 31
                    and -8 <= dr - dg <= 7
                    and -8 <= db - dg <= 7
                ):
                    out.append(0x80 | (dg + 32))
                    out.append(((dr - dg + 8) << 4) | (db - dg + 8))
                else:
                    out += bytes([0xFE, r, g, b])
            pr, pg, pb = r, g, b
    if run:
        out.append(0xC0 | (run - 1))
    out += b"\x00\x00\x00\x00\x00\x00\x00\x01"
    return bytes(out)


def test_multimodal_real_qoi_decode(spark):
    """The SECOND compressed image codec without any dependency: the
    pure-Python QOI decoder must replay run-length, seen-pixel-index,
    byte-diff, luma-diff, and literal-RGB ops exactly, collapse RGB with
    the house integer luma, and ride the full extract_features mapInPandas
    path.  The fixture image is constructed to force EVERY op: a constant
    band (RUN), +1-step gradients (DIFF), mid-size steps (LUMA), random
    pixels (RGB), and a revisited color (INDEX)."""
    import numpy as np

    from plume_spark.operators.multimodal import (
        FEATURE_DIM,
        MEDIA,
        _decode_qoi,
        extract_features,
        featurize,
        real_decoder,
    )

    rng = np.random.default_rng(11)
    rgb = np.zeros((8, 8, 3), dtype=np.uint8)
    rgb[0, :] = (200, 10, 30)                    # row 0: constant -> RUN
    for x in range(8):                            # row 1: +1 ramp -> DIFF
        rgb[1, x] = (50 + x, 60 + x, 70 + x)
    for x in range(8):                            # row 2: step 5 -> LUMA
        rgb[2, x] = (40 + 5 * x, 80 + 5 * x, 120 + 5 * x)
    rgb[3:6] = rng.integers(0, 256, (3, 8, 3))    # rows 3-5: literal RGB
    rgb[6, :] = (200, 10, 30)                     # row 6: revisit -> INDEX+RUN
    rgb[7, :] = rgb[3, ::-1]                      # row 7: more INDEX hits
    payload = _qoi_bytes(rgb)
    luma = (
        rgb[..., 0].astype(np.uint32) * 299
        + rgb[..., 1].astype(np.uint32) * 587
        + rgb[..., 2].astype(np.uint32) * 114
    ) // 1000
    assert np.array_equal(_decode_qoi(payload), luma / 255.0)
    assert np.array_equal(decode_real(payload, "image/qoi"), luma / 255.0)

    # every op family is present in the encoded stream
    ops = set()
    at = 14
    end = len(payload) - 8
    while at < end:
        byte = payload[at]
        if byte == 0xFE:
            ops.add("rgb"); at += 4
        elif byte == 0xFF:
            ops.add("rgba"); at += 5
        else:
            tag = byte >> 6
            ops.add(["index", "diff", "luma", "run"][tag])
            at += 2 if tag == 2 else 1
    assert {"run", "index", "diff", "luma", "rgb"} <= ops

    with pytest.raises(ValueError):  # truncated/garbage stays loud
        _decode_qoi(b"qoif" + b"\x00" * 18)

    media = spark.createDataFrame(
        [(1, "image", "image/qoi", payload, 8, 8, None)], schema=MEDIA
    )
    rows = extract_features(media, decoder=real_decoder).collect()
    assert rows[0]["feature"] == [float(x) for x in featurize(luma / 255.0)]
    assert len(rows[0]["feature"]) == FEATURE_DIM


def test_multimodal_real_png_decode(spark):
    """The COMPRESSED image branch without pillow: the pure-Python PNG
    decoder (stdlib zlib) must invert all five scanline filters exactly,
    handle gray/RGB/RGBA/palette color types, agree with pillow when it is
    present, and ride the full extract_features mapInPandas path."""
    import numpy as np

    from plume_spark.operators.multimodal import (
        FEATURE_DIM,
        HAVE_PIL,
        MEDIA,
        extract_features,
        featurize,
        real_decoder,
    )

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, size=(6, 8), dtype=np.uint8)
    all_filters = [0, 1, 2, 3, 4, 2]
    png_gray = _png_bytes(gray, ctype=0, filters=all_filters)
    grid = decode_real(png_gray, "image/png")
    assert np.array_equal(grid, gray.astype(np.float64) / 255.0)

    rgb = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    luma = (
        rgb[..., 0].astype(np.uint32) * 299
        + rgb[..., 1].astype(np.uint32) * 587
        + rgb[..., 2].astype(np.uint32) * 114
    ) // 1000
    png_rgb = _png_bytes(rgb, ctype=2, filters=all_filters)
    assert np.array_equal(decode_real(png_rgb, "image/png"), luma / 255.0)

    rgba = np.concatenate([rgb, rng.integers(0, 256, (6, 8, 1), dtype=np.uint8)], axis=-1)
    png_rgba = _png_bytes(rgba, ctype=6, filters=all_filters)
    assert np.array_equal(decode_real(png_rgba, "image/png"), luma / 255.0)

    plte = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(6, 8), dtype=np.uint8)
    png_pal = _png_bytes(idx, ctype=3, filters=all_filters, plte=plte)
    pal_rgb = plte[idx]
    pal_luma = (
        pal_rgb[..., 0].astype(np.uint32) * 299
        + pal_rgb[..., 1].astype(np.uint32) * 587
        + pal_rgb[..., 2].astype(np.uint32) * 114
    ) // 1000
    assert np.array_equal(decode_real(png_pal, "image/png"), pal_luma / 255.0)

    with pytest.raises(NotImplementedError):  # Adam7 stays a loud gap
        decode_real(_png_bytes(gray, ctype=0, interlace=1), "image/png")

    if HAVE_PIL:  # parity with pillow on the identical payload
        import io

        from PIL import Image

        pil = np.asarray(
            Image.open(io.BytesIO(png_rgb)).convert("L"), dtype=np.float64
        )
        assert np.array_equal(decode_real(png_rgb, "image/png"), pil / 255.0)

    media = spark.createDataFrame(
        [
            (1, "image", "image/png", png_gray, 8, 6, None),
            (2, "image", "image/png", png_rgb, 8, 6, None),
        ],
        schema=MEDIA,
    )
    rows = {r["media_id"]: r for r in extract_features(media, decoder=real_decoder).collect()}
    assert rows[1]["feature"] == [float(x) for x in featurize(grid)]
    assert rows[2]["feature"] == [float(x) for x in featurize(luma / 255.0)]
    assert all(len(r["feature"]) == FEATURE_DIM for r in rows.values())


def _y4m_bytes(frames, cspace: str = "C420") -> bytes:
    """Minimal YUV4MPEG2 encoder for fixtures: luma from ``frames``
    ((n, h, w) uint8), constant-128 chroma planes sized per colorspace."""
    import numpy as np

    a = np.asarray(frames, dtype=np.uint8)
    n, h, w = a.shape
    chroma = {"C420": (w * h) // 2, "C444": w * h * 2, "Cmono": 0}[cspace]
    out = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 {cspace}\n".encode()]
    for f in a:
        out.append(b"FRAME\n" + f.tobytes() + bytes([128]) * chroma)
    return b"".join(out)


def test_multimodal_real_video_decode(spark):
    """The REAL video branch: pure-Python YUV4MPEG2 decode recovers the
    exact luma stack (chroma skipped per colorspace), and
    extract_frame_features fans each payload out to per-sampled-frame
    feature rows through mapInPandas.  Compressed codecs still raise."""
    import numpy as np

    from plume_spark.operators.multimodal import (
        FEATURE_DIM,
        MEDIA,
        extract_frame_features,
        featurize,
    )

    frames = np.stack(
        [(np.arange(24, dtype=np.uint8).reshape(4, 6) * 9 + k * 31) % 255 for k in range(5)]
    )
    for cspace in ("C420", "C444", "Cmono"):
        payload = _y4m_bytes(frames, cspace)
        stack = decode_real(payload, "video/x-yuv4mpeg")
        assert stack.shape == (5, 4, 6)
        assert np.array_equal(stack, frames.astype(np.float64) / 255.0)

    payload = _y4m_bytes(frames)
    media = spark.createDataFrame(
        [
            (7, "video", "video/x-yuv4mpeg", payload, 6, 4, 200),
            (8, "image", "image/png", b"not-video", 1, 1, None),
        ],
        schema=MEDIA,
    )
    rows = sorted(
        extract_frame_features(media, every_n=2).collect(), key=lambda r: r["frame_idx"]
    )
    assert [r["frame_idx"] for r in rows] == [0, 2, 4]
    assert all(r["media_id"] == 7 and r["n_frames"] == 5 for r in rows)
    stack = decode_real(payload, "video/x-yuv4mpeg")
    for r in rows:
        assert r["feature"] == [float(x) for x in featurize(stack[r["frame_idx"]])]
        assert len(r["feature"]) == FEATURE_DIM

    with pytest.raises(NotImplementedError):
        decode_real(b"\x00\x00\x01\xba mpeg-ps", "video/mp4")


def test_traversal_tiny_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (9, 9)], ["subj", "obj"]
    )
    roots = {r["node"] for r in traversal.roots(edges).collect()}
    assert roots == {1}
    seeds = spark.createDataFrame([(1,)], ["node"])
    assert {r["node"] for r in traversal.k_hop(edges, seeds, 2).collect()} == {4}
    reach = {r["node"] for r in traversal.reachable(edges, seeds).collect()}
    assert reach == {1, 2, 3, 4, 5}
    up = {r["node"] for r in traversal.parent_walk(edges, spark.createDataFrame([(5,)], ["node"])).collect()}
    assert up == {5, 4, 2, 3, 1}


def test_cc_driver_and_distributed_paths_agree(spark):
    """Size-adaptive CC: the driver union-find (small graphs) and the
    distributed label-propagation loop must give identical components."""
    from plume_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y"), ("m", "m"), ("c", "d")],
        ["src", "dst"],
    )
    fast = {
        (r["node"], r["component"])
        for r in connected_components(edges, "src", "dst").collect()
    }
    dist = {
        (r["node"], r["component"])
        for r in connected_components(
            edges, "src", "dst", driver_max_edges=0
        ).collect()
    }
    assert fast == dist
    assert ("d", "a") in fast and ("y", "x") in fast and ("m", "m") in fast


def test_hostile_inputs(spark):
    """Edge inputs must not error: empty transcript set, whitespace-only and
    unicode-only turns (no ASCII-uppercase mention starts by design),
    5000-char single tokens."""
    import datetime as dt

    from plume_spark.pipeline import run_pipeline
    from plume_spark.schemas import TRANSCRIPTS

    empty = spark.createDataFrame([], schema=TRANSCRIPTS)
    res = run_pipeline(empty, persist_changelog=False)
    assert res.triples.count() == 0 and res.entities.count() == 0

    ts = dt.datetime(2025, 1, 1)
    hostile = spark.createDataFrame(
        [
            ("c1", 0, "user", "   \t  ", None, ts),
            ("c1", 1, "user", "日本語のテキストだけの発話です", None, ts),
            ("c1", 2, "user", "x" * 5000, None, ts),
            ("c1", 3, "user", "Alice Smith works at " + "Acme" + "x" * 4000, None, ts),
        ],
        schema=TRANSCRIPTS,
    )
    res2 = run_pipeline(hostile, persist_changelog=False)
    assert res2.rejects.count() == 0  # none malformed, just hostile
    assert res2.triples.count() >= 1  # the Alice row still links

    big_doc = spark.createDataFrame([(0, "y" * 5000), (1, "")], ["doc_id", "text"])
    stats = {r["doc_id"]: r for r in text.token_stats(big_doc).collect()}
    assert stats[0]["n_tokens"] == 1 and stats[1]["n_tokens"] == 0
    assert text.quality_score(big_doc).count() == 2
    assert dedup.exact_dedup(big_doc).count() == 2


def test_xxh64_matches_spark(spark):
    """The driver kernel's vectorized XXH64 must be bit-identical to Spark's
    xxhash64 expression (seed 42) — the guarantee that the driver-local and
    distributed linking paths hash the same gram to the same value."""
    import numpy as np

    from plume_spark.functions.xxh64 import xxh64_fixed

    grams = ["abc", "cus", "0 1", "a\x00\x00", "zz9", " 00", "x y", "q7 "]
    df = spark.createDataFrame([(g,) for g in grams], ["g"]).select(
        "g", F.xxhash64("g").alias("h")
    )
    spark_h = {r["g"]: r["h"] for r in df.collect()}
    codes = [np.frombuffer(g.encode("latin-1"), dtype=np.uint8).astype(np.uint64) for g in grams]
    cols = [np.array([c[b] for c in codes], dtype=np.uint64) for b in range(3)]
    mine = xxh64_fixed(cols, 3).view(np.int64)
    assert all(spark_h[g] == int(m) for g, m in zip(grams, mine))


def test_driver_link_kernel_equals_distributed(spark):
    """Size-adaptive linking: the driver kernel and the distributed
    LSH+verify pipeline must emit the SAME verified pair set, and
    norm_components must give the same canonicalization either way."""
    from plume_spark.generator import generate_transcripts
    from plume_spark.operators import canonicalize
    from plume_spark.operators.extraction import extract_changelog, split_changelog
    from plume_spark.operators.linking import driver_link_kernel, verified_pairs

    t = generate_transcripts(spark, 40, seed=11)
    mentions, _ = split_changelog(extract_changelog(t))
    norms_df = mentions.select("norm").distinct()
    vals = sorted(r["norm"] for r in norms_df.collect())
    for tau in (0.55, 0.95):
        dist = {tuple(r) for r in verified_pairs(norms_df, "norm", tau=tau).collect()}
        kern = set(driver_link_kernel(vals, tau=tau))
        assert dist == kern, (tau, dist ^ kern)
    # the driver kernel when the caller hands over the collected norms,
    # the distributed chain otherwise
    fast = {
        (r["norm"], r["canonical_norm"])
        for r in canonicalize.norm_components(mentions, norms=vals).collect()
    }
    slow = {
        (r["norm"], r["canonical_norm"])
        for r in canonicalize.norm_components(mentions).collect()
    }
    assert fast == slow


# (norm, kind) mention sets for the two build_entities paths.  With tau 0.55
# each one-letter variant links to its stem, so every set below but
# null_norm has multi-member components; a NULL norm yields no entity.
_ENTITY_MENTIONS = {
    "null_kind_hints": [
        ("lonely planet", None), ("lonely planets", None),
        ("lonely planet", "entity"), ("solo artist", None), ("solo artists", "person"),
    ],
    "all_entity_components": [
        ("quantum widget", "entity"), ("quantum widgets", "entity"),
        ("quantum widgetx", "entity"), ("other thing", "entity"),
    ],
    "mixed_kind_components": [
        ("alexander hamilton", "person"), ("alexander hamiltons", "org"),
        ("alexander hamilton", "entity"), ("acme corporation", "org"),
        ("acme corporations", "tool"), ("acme corporationx", "artifact"),
        ("zacme corporation", "org"), ("macme corporation", "org"),
        ("zebra", "tool"), ("zebra", "org"),
    ],
    "empty": [],
    "null_norm": [("acme", "org"), (None, "person")],
}


def _entity_tables(spark, rows, driver: bool):
    from plume_spark.operators import canonicalize

    mentions = spark.createDataFrame(rows, "norm string, kind string")
    saved = canonicalize.DRIVER_LINK_MAX_NORMS
    # uncoalesced, the dictionary arrives in several hash partitions, each
    # sorted by norm: alias order must not depend on how they concatenate
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    try:
        spark.conf.set(coalesce, "false")
        if not driver:
            canonicalize.DRIVER_LINK_MAX_NORMS = 0  # force distributed
        ents, n2e = canonicalize.build_entities(mentions, tau=0.55)
    finally:
        canonicalize.DRIVER_LINK_MAX_NORMS = saved
        spark.conf.set(coalesce, "true")
    return (
        ents,
        n2e,
        sorted((r["entity_id"], r["canonical_name"], r["kind"], tuple(r["aliases"])) for r in ents.collect()),
        sorted((r["norm"], r["entity_id"]) for r in n2e.collect()),
    )


@pytest.mark.parametrize("case", sorted(_ENTITY_MENTIONS))
def test_build_entities_driver_and_distributed_paths_agree(spark, case):
    """build_entities' driver path (Python assembly over one dictionary
    collect) and its distributed path give equal entities — ids, names,
    kinds and alias ORDER — and equal norm->entity dictionaries.  The driver
    path's frames are local relations."""
    rows = _ENTITY_MENTIONS[case]
    d_ents, d_n2e, fast_ents, fast_n2e = _entity_tables(spark, rows, driver=True)
    _, _, slow_ents, slow_n2e = _entity_tables(spark, rows, driver=False)
    assert fast_ents == slow_ents
    assert fast_n2e == slow_n2e
    for df in (d_ents, d_n2e):
        assert df._jdf.queryExecution().optimizedPlan().toString().startswith("LocalRelation")
    if rows:
        assert len(fast_ents) < len({n for n, _ in rows})  # some norms did merge
    kinds = {name: kind for _, name, kind, _ in fast_ents}
    if case == "all_entity_components":
        assert set(kinds.values()) == {"entity"}
    if case == "mixed_kind_components":
        # smallest non-'entity' kind over all members of the component
        assert kinds == {
            "alexander hamilton": "org", "acme corporation": "artifact", "zebra": "org",
        }
    if case == "null_kind_hints":
        assert kinds == {"lonely planet": "entity", "solo artist": "person"}
    if case == "null_norm":
        assert kinds == {"acme": "org"} and fast_n2e == [("acme", fast_ents[0][0])]


def test_salted_join_and_salted_cc(spark):
    """salted_join must be row-equivalent to a plain join (hot key included),
    and the salted distributed CC loop must match the unsalted one."""
    from plume_spark.operators.components import connected_components
    from plume_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [("hot", i) for i in range(200)] + [("cold", 0), ("miss", 1)], ["k", "v"]
    )
    right = spark.createDataFrame([("hot", 10), ("cold", 20)], ["k", "w"])
    plain = {tuple(r) for r in left.join(right, "k").collect()}
    salted = {tuple(r) for r in salted_join(left, right, "k", n_salts=4).collect()}
    assert plain == salted and len(plain) == 201

    edges = spark.createDataFrame(
        [("hub", f"n{i}") for i in range(50)] + [("n0", "n1"), ("iso", "iso2")],
        ["src", "dst"],
    )
    base = {
        tuple(r)
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    salted_cc = {
        tuple(r)
        for r in connected_components(
            edges, driver_max_edges=0, n_salts=4, hot_key_min_degree=10
        ).collect()
    }
    assert base == salted_cc

    # n_salts with nothing over the degree threshold degrades to plain join
    lazy_cc = {
        tuple(r)
        for r in connected_components(edges, driver_max_edges=0, n_salts=4).collect()
    }
    assert base == lazy_cc

    # outer-on-right joins would duplicate unmatched right rows -> refused
    import pytest

    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(left, right, "k", n_salts=4, how="full")


def test_cc_nonconvergence_raises(spark):
    """A chain longer than max_iters hops cannot converge — the loop must
    fail loudly instead of returning silently-partial labels."""
    import pytest

    from plume_spark.operators.components import connected_components

    chain = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(30)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, driver_max_edges=0, max_iters=3)
    ok = connected_components(chain, driver_max_edges=0, max_iters=40)
    assert ok.select("component").distinct().count() == 1


def test_xxh64_ngrams_rejects_non_ascii():
    import pytest

    from plume_spark.functions.xxh64 import xxh64_ngrams

    with pytest.raises(NotImplementedError, match="ASCII-only"):
        xxh64_ngrams(["café norm"], 3)


def test_no_rowwise_python_in_plans(spark, docs):
    """SURVEY §7 hard part (d): Python appears only as Arrow-batched nodes
    (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas) — never as
    row-at-a-time BatchEvalPython."""
    from plume_spark.generator import generate_transcripts
    from plume_spark.pipeline import run_pipeline

    t = generate_transcripts(spark, 4, seed=0)
    result = run_pipeline(t, persist_changelog=False)
    for df in [result.triples, dedup.minhash_dedup(docs), text.fingerprint(docs)]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, plan[:2000]


def test_pagerank_hand_computed(spark):
    """Two synchronous iterations on 1->{2,3}, 2->3, from uniform 1.0 at
    damping 0.85 (values derived by hand):
      iter1: r = (0.15, 0.575, 1.425); iter2: r = (0.15, 0.21375, 0.7025)."""
    from plume_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], ["subj", "obj"])
    got = {r["node"]: r["rank_ppm"] for r in pagerank(edges, n_iters=2).collect()}
    assert got == {1: 150000, 2: 213750, 3: 702500}
    # duplicate edges must not change the result (distinct edge semantics)
    dup = edges.unionByName(edges)
    assert {
        r["node"]: r["rank_ppm"] for r in pagerank(dup, n_iters=2).collect()
    } == got


def test_hot_keys_diagnostic(spark):
    from plume_spark.operators.skew import hot_keys

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1, ["k"]
    )
    rows = hot_keys(df, "k", top_n=5).collect()
    assert [(r["key_value"], r["cnt"]) for r in rows] == [("a", 6), ("b", 3)]
    assert rows[0]["share"] == 0.6  # 6/10, exact at 6dp


def test_asof_join_semantics(spark):
    """Hand-built case: latest-at-or-before match, strict vs non-strict at an
    equal timestamp, unmatched-left nulls, and tie collapse to max value."""
    import datetime as dt

    from plume_spark.operators.temporal import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, "u1", t(10)), (2, "u1", t(20)), (3, "u2", t(5))],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [("u1", t(10), 100), ("u1", t(10), 101), ("u1", t(15), 102), ("u3", t(1), 103)],
        ["user_id", "ts", "event_id"],
    )
    got = {
        r["event_id"]: r["m_event_id"]
        for r in asof_join(left, right, key="user_id", prefix="m_").collect()
    }
    # non-strict: ts==10 matches the tied pair collapsed to MAX=101
    assert got == {1: 101, 2: 102, 3: None}
    strict = {
        r["event_id"]: r["m_event_id"]
        for r in asof_join(left, right, key="user_id", prefix="m_", strict=True).collect()
    }
    assert strict == {1: None, 2: 102, 3: None}


def test_range_join_count_semantics(spark):
    import datetime as dt

    from plume_spark.operators.temporal import range_join_count

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s, 500000)  # sub-second offsets
    left = spark.createDataFrame(
        [(1, "u1", t(30)), (2, "u2", t(30))], ["event_id", "user_id", "ts"]
    )
    right = spark.createDataFrame(
        [("u1", t(25)), ("u1", t(30)), ("u1", dt.datetime(2024, 1, 1, 0, 0, 20, 499999)),
         ("u2", t(50))],
        ["user_id", "ts"],
    )
    got = {
        r["event_id"]: r["n_in_range"]
        for r in range_join_count(
            left, right, key="user_id", before_s=10, after_s=0
        ).collect()
    }
    # u1@30.5: window [20.5, 30.5] -> 25.5 and 30.5 in, 20.499999 out (exact
    # sub-second boundary); u2@30.5: later right row only -> 0 (LEFT row kept)
    assert got == {1: 2, 2: 0}


def test_corpus_operators(spark, docs):
    from plume_spark.operators import corpus

    # decontamination: doc 3 is the "eval set"; docs 0 and 1 share most
    # 5-grams with it (0 is an exact dup, 1 a near-dup), 2 and 4 share none
    ev = docs.filter(F.col("doc_id") == 3)
    train = docs.filter(F.col("doc_id") != 3)
    ov = {r["doc_id"]: r for r in corpus.ngram_overlap(train, ev, n=5).collect()}
    assert ov[0]["overlap_frac"] == 1.0  # exact duplicate of the eval doc
    assert 0 < ov[1]["overlap_frac"] < 1.0
    assert 2 not in ov and 4 not in ov

    # boilerplate: docs 0 and 3 are exact dups -> every gram of theirs is in
    # >= 2 docs; doc 1 shares all but its tail gram; 2/4 share none
    bp = {r["doc_id"]: r for r in corpus.boilerplate_score(docs, n=3, min_docs=2).collect()}
    assert bp[0]["boilerplate_frac"] == 1.0 and bp[3]["boilerplate_frac"] == 1.0
    assert 0 < bp[1]["boilerplate_frac"] < 1.0
    assert bp[2]["n_common"] == 0 and bp[4]["n_common"] == 0

    # split: deterministic, total partition, same assignment on recompute
    s1 = {r["doc_id"]: r["split"] for r in corpus.train_val_split(docs).collect()}
    s2 = {r["doc_id"]: r["split"] for r in corpus.train_val_split(docs).collect()}
    assert s1 == s2 and set(s1) == {0, 1, 2, 3, 4}
    assert set(s1.values()) <= {"train", "val"}

    # tfidf: rare terms outrank corpus-wide ones; k rows per doc max
    tk = corpus.tfidf_topk(docs, k=2).collect()
    by_doc: dict[int, list] = {}
    for r in tk:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) <= 2 for v in by_doc.values())
    assert all(r["df_docs"] < 5 for r in by_doc[2])  # distinctive, not 'the'

    # packing: offsets are contiguous prefix sums within each shard
    pk = sorted(corpus.pack_chunks(docs, budget=10, n_shards=2).collect(),
                key=lambda r: (r["shard"], r["doc_id"]))
    tok_counts = {r["doc_id"]: len(r["text"].split()) for r in docs.collect()}
    seen: dict[int, int] = {}
    for r in pk:
        assert r["tok_offset"] == seen.get(r["shard"], 0)
        assert r["chunk"] == r["tok_offset"] // 10
        seen[r["shard"]] = r["tok_offset"] + tok_counts[r["doc_id"]]


def test_incremental_neardup_equals_full(spark):
    """Index old docs once, dedup the new batch against it: pairs touching a
    new doc must be identical (incl. jaccard) to a full re-run's, and no
    old-old pair may appear."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = d.filter(F.col("doc_id") % 4 != 0)
    new = d.filter(F.col("doc_id") % 4 == 0)
    osigs, otoks = dedup.minhash_state(old)
    nsigs, ntoks = dedup.minhash_state(new)
    incr = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in dedup.incremental_neardup(osigs, otoks, nsigs, ntoks).collect()
    }
    asigs, atoks = dedup.minhash_state(d)
    full = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in dedup.incremental_neardup(None, None, asigs, atoks).collect()
    }
    expected = {p: j for p, j in full.items() if p[0] % 4 == 0 or p[1] % 4 == 0}
    assert incr == expected
    assert all(a % 4 == 0 or b % 4 == 0 for a, b in incr)
    assert expected, "fixture must produce at least one cross-batch pair"


def test_incremental_neardup_via_persisted_index(spark, tmp_path):
    """The two-run shape: run 1 indexes a batch into SnapshotTables; run 2
    reloads the index from disk and dedups a new batch against it — output
    equals the in-memory incremental path."""
    from plume_spark.store.catalog import SnapshotTable

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = d.filter(F.col("doc_id") % 4 != 0)
    new = d.filter(F.col("doc_id") % 4 == 0)

    osigs, otoks = dedup.minhash_state(old)
    sig_t = SnapshotTable(spark, str(tmp_path / "sigs"))
    tok_t = SnapshotTable(spark, str(tmp_path / "toks"))
    sig_t.append(osigs)
    tok_t.append(otoks)

    nsigs, ntoks = dedup.minhash_state(new)
    from_disk = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in dedup.incremental_neardup(
            sig_t.read(), tok_t.read(), nsigs, ntoks
        ).collect()
    }
    in_memory = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in dedup.incremental_neardup(osigs, otoks, nsigs, ntoks).collect()
    }
    assert from_disk == in_memory and from_disk
    # run 3: fold the new batch into the index (idempotent on doc_id re-land)
    sig_t.merge_insert(nsigs, keys=["doc_id", "h"])
    tok_t.merge_insert(ntoks, keys=["doc_id", "tok_id"])
    assert sig_t.read().select("doc_id").distinct().count() == d.count()


def test_corpus_hostile_inputs(spark):
    """Corpus ops on degenerate docs: empty text, whitespace-only, fewer
    tokens than the shingle width — empty results or sane rows, no crash."""
    from plume_spark.operators import corpus

    rows = [(0, ""), (1, "   "), (2, "one two"), (3, "a b c d e f")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    assert corpus.ngram_overlap(d, d, n=5).count() >= 0
    bp = {r["doc_id"]: r for r in corpus.boilerplate_score(d, n=3).collect()}
    assert set(bp) == {3}  # only doc 3 has >= 3 tokens
    assert {r["doc_id"] for r in corpus.train_val_split(d).collect()} == {0, 1, 2, 3}
    tk = corpus.tfidf_topk(d, k=2).collect()
    assert all(r["doc_id"] in (2, 3) for r in tk)  # docs with real tokens
    pk = {r["doc_id"]: r for r in corpus.pack_chunks(d, budget=4, n_shards=2).collect()}
    assert set(pk) == {0, 1, 2, 3}
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert corpus.boilerplate_score(empty).count() == 0
    assert corpus.pack_chunks(empty).count() == 0


def test_round3_operators_hostile_inputs(spark):
    """mix_sample / dupe_ngram_rate / pii_scrub / quality_logreg /
    quantize_embeddings on degenerate rows: empty text, no matches, short
    docs, zero vectors — sane rows, no crash, exact expectations."""
    from plume_spark.operators import corpus
    from plume_spark.operators.similarity import quantize_embeddings
    from plume_spark.operators.text import pii_scrub, quality_logreg

    d = spark.createDataFrame(
        [(0, "", "srcA"), (1, "   ", "srcB"), (2, "one two", "srcA"),
         (3, "a b c d e f g h i j", "srcB")],
        ["doc_id", "text", "source"],
    )
    # mix_sample: rate 1.0 keeps everything, 0.0 keeps nothing
    all_r = spark.createDataFrame([("srcA", 1.0), ("srcB", 1.0)], ["source", "rate"])
    none_r = spark.createDataFrame([("srcA", 0.0), ("srcB", 0.0)], ["source", "rate"])
    assert corpus.mix_sample(d, all_r).count() == 4
    assert corpus.mix_sample(d, none_r).count() == 0
    # dupe rate: only doc 3 has >= 8 tokens; its grams are unique -> 0.0
    dr = {r["doc_id"]: r for r in corpus.dupe_ngram_rate(d, n=8).collect()}
    assert set(dr) == {3} and dr[3]["dup_frac"] == 0.0
    # duplicated passage across two docs -> dup_frac 1.0 on both
    d2 = spark.createDataFrame(
        [(10, "x y z w v u t s"), (11, "x y z w v u t s")], ["doc_id", "text"]
    )
    dr2 = {r["doc_id"]: r["dup_frac"] for r in corpus.dupe_ngram_rate(d2, n=8).collect()}
    assert dr2 == {10: 1.0, 11: 1.0}
    # pii scrub: email + long digits redacted, counts exact; empty rows no-op
    p = spark.createDataFrame(
        [(0, "mail me at a.b+c@x-corp.io ref 1234567 ok"), (1, ""), (2, "no pii 123")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in pii_scrub(p).collect()}
    assert got[0]["text"] == "mail me at <EMAIL> ref <NUM> ok"
    assert got[0]["n_redactions"] == 2
    assert got[1]["text"] == "" and got[1]["n_redactions"] == 0
    assert got[2]["text"] == "no pii 123" and got[2]["n_redactions"] == 0
    # logreg: empty text scores at the bias point, bounded (0, 1)
    import math

    q = {r["doc_id"]: r for r in quality_logreg(d).collect()}
    assert abs(q[0]["score"] - round(1 / (1 + math.exp(1.5)), 6)) < 1e-9
    assert all(0.0 < r["score"] < 1.0 for r in q.values())
    # quantize: zero vector -> scale 0, all-zero q; max element hits ±127
    e = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.5, -1.0])],
        "vec_id long, embedding array<float>",
    )
    qz = {r["vec_id"]: r for r in quantize_embeddings(e).collect()}
    assert qz[0]["scale"] == 0.0 and qz[0]["q"] == [0, 0]
    assert qz[1]["scale"] == 1.0 and qz[1]["q"] == [63, -127]


def test_triangle_count_hand_computed(spark):
    from plume_spark.operators.graph_metrics import co_occurrence_edges, triangle_count

    # K4 on {1,2,3,4} plus a pendant 5: each K4 node sits in C(3,2)=3
    # triangles, the pendant in none
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(4, 5)]
    e = spark.createDataFrame(edges, ["a", "b"])
    got = {r["node"]: r["n_triangles"] for r in triangle_count(e).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # symmetric both-ways input and self-loops must canonicalize, not octuple
    sym = edges + [(b, a) for a, b in edges] + [(1, 1)]
    e2 = spark.createDataFrame(sym, ["a", "b"])
    got2 = {r["node"]: r["n_triangles"] for r in triangle_count(e2).collect()}
    assert got2 == got

    # co-occurrence: items sharing groups; hub group (> cap) dropped
    rows = [("g1", i) for i in (1, 2, 3)] + [("g2", i) for i in (2, 3)] + [
        ("hub", i) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["grp", "item"])
    pairs = {(r["a"], r["b"]): r["n_groups"]
             for r in co_occurrence_edges(df, "grp", "item", max_group_size=10).collect()}
    assert pairs == {(1, 2): 1, (1, 3): 1, (2, 3): 2}


def test_corpus_pipeline_composition(spark):
    """The ops compose into the full corpus-prep flow: select (quality +
    lang + dedup keeper) -> split -> pack; every selected doc gets exactly
    one split and one chunk slot."""
    from plume_spark.operators import corpus

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    selected = corpus.select_corpus(d)
    n_sel = selected.count()
    assert 0 < n_sel < d.count()
    kept = d.join(selected.select("doc_id"), "doc_id", "left_semi")
    split = corpus.train_val_split(kept)
    packed = corpus.pack_chunks(kept, budget=128, n_shards=4)
    assert split.count() == n_sel and packed.count() == n_sel
    joined = split.join(packed, "doc_id")
    assert joined.count() == n_sel  # 1:1 across stages
    assert joined.filter("split = 'val'").count() > 0


def test_all_contract_plans_are_arrow_only(spark):
    """Every contract query's physical plan is free of row-at-a-time Python
    (BatchEvalPython); Python may appear only as Arrow-batched nodes.  Runs
    at sf0.001 and skips the two queries that execute side effects at plan
    time (streaming drain, driver-kernel collect paths are still covered by
    their own tests)."""
    import __spark_entry__ as entrymod

    skip = {  # execute real streams / store builds (side effects) on invocation
        "stream_ordered_release",
        "stream_sessionize",
        "stream_kg_build",
        "stream_turn_counts",
        "kg_build_incr",
    }
    for name, fn in entrymod.queries().items():
        if name in skip:
            continue
        df = fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, (name, plan[:1500])


def test_k_core_hand_computed(spark):
    """K4 plus a tail 4-5-6: the 3-core is exactly the K4 (every K4 node
    keeps degree 3), the tail peels off over two rounds (6 first, then 5)."""
    from plume_spark.operators.graph_metrics import k_core

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(k4 + [(4, 5), (5, 6)], ["a", "b"])
    got = {r["node"]: r["core_deg"] for r in k_core(e, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # k above the densest core -> empty, converged (no raise)
    assert k_core(e, k=4).count() == 0
    # non-convergence within max_iters raises loudly (oracle-unroll safety):
    # a 10-chain peels one edge per round end-to-end under k=2? no — chain
    # endpoints peel simultaneously, ~n/2 rounds; force max_iters=1 instead
    chain = spark.createDataFrame([(i, i + 1) for i in range(8)], ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(chain, k=2, max_iters=1)


def test_common_neighbors_hand_computed(spark):
    """Path 1-2-3 plus 1-4, 3-4: non-adjacent pair (1,3) shares {2,4};
    adjacent pairs are excluded; Jaccard uses full degrees."""
    from plume_spark.operators.graph_metrics import common_neighbors

    e = spark.createDataFrame([(1, 2), (2, 3), (1, 4), (3, 4)], ["a", "b"])
    rows = {(r["a"], r["b"]): (r["common"], r["jaccard"])
            for r in common_neighbors(e).collect()}
    # deg: 1->2, 2->2, 3->2, 4->2; (1,3): common {2,4} = 2, J = 2/(2+2-2) = 1
    # (2,4): common {1,3} = 2, J = 1; adjacent pairs absent
    assert rows == {(1, 3): (2, 1.0), (2, 4): (2, 1.0)}
    # hub middles above the cap generate no wedges: star center 0 with 5
    # spokes at cap 4 -> no candidate pairs at all
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], ["a", "b"])
    assert common_neighbors(star, max_degree=4).count() == 0
    # at cap >= 5 the star yields all C(5,2) spoke pairs with common=1
    assert common_neighbors(star, max_degree=5).count() == 10


def test_knn_graph_invariants(spark):
    """k-NN graph over the sf0.001 embeddings: per-source cap, no
    self-edges, descending rank order, and run-to-run determinism (the
    hyperplanes are arithmetic, not random state)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    g = similarity.knn_graph(e, k=5).collect()
    per_src: dict[int, list] = {}
    for r in g:
        assert r["src"] != r["dst"]
        assert -1.0 <= r["cos_sim"] <= 1.0
        per_src.setdefault(r["src"], []).append((r["cos_sim"], r["dst"]))
    assert max(len(v) for v in per_src.values()) <= 5
    for v in per_src.values():  # rank order: cos desc, dst asc tie-break
        assert v == sorted(v, key=lambda t: (-t[0], t[1]))
    again = similarity.knn_graph(e, k=5).collect()
    assert sorted(map(tuple, g)) == sorted(map(tuple, again))


def test_lsh_and_pair_strategies_bit_identical(spark):
    """The codegen (unrolled) and HOF (interpreted) evaluation paths of the
    LSH projection, the blocked pair join, and the k-NN graph must produce
    IDENTICAL results — the auto switch picks by size estimate, so the
    choice must never be observable in values.  (The gate data is small
    enough that auto always picks HOF; this test is what keeps the scale
    path honest.)"""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    b_c = similarity.lsh_buckets(e, strategy="codegen")
    b_h = similarity.lsh_buckets(e, strategy="hof")
    assert rows(b_c) == rows(b_h)

    blocked = e.join(b_c.withColumnRenamed("bucket", "blk_b"), "vec_id")
    p_c = similarity.blocked_cosine_pairs(blocked, "blk_b", tau=-1.0, strategy="codegen")
    p_h = similarity.blocked_cosine_pairs(blocked, "blk_b", tau=-1.0, strategy="hof")
    assert rows(p_c) == rows(p_h)

    g_c = similarity.knn_graph(e, k=5, strategy="codegen")
    g_h = similarity.knn_graph(e, k=5, strategy="hof")
    assert rows(g_c) == rows(g_h)

    i_c = similarity.ivf_topk(e, 0, 10, 8, 2, strategy="codegen")
    i_h = similarity.ivf_topk(e, 0, 10, 8, 2, strategy="hof")
    assert rows(i_c) == rows(i_h)


def test_graph_and_knn_hostile_inputs(spark):
    """k_core / common_neighbors / knn_graph on degenerate inputs: empty
    edge sets, self-loops only, single-row embeddings — sane empties, no
    crash."""
    from plume_spark.operators.graph_metrics import common_neighbors, k_core

    empty = spark.createDataFrame([], "a long, b long")
    assert k_core(empty, k=2).count() == 0
    assert common_neighbors(empty).count() == 0
    loops = spark.createDataFrame([(1, 1), (2, 2)], ["a", "b"])
    assert k_core(loops, k=1).count() == 0  # self-loops dropped -> no edges
    assert common_neighbors(loops).count() == 0
    # one vector: a bucket of size 1 -> no pairs, no edges
    one = spark.createDataFrame(
        [(0, [float(i) for i in range(64)], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    assert similarity.knn_graph(one, k=3).count() == 0


def test_k_core_empties_on_final_round(spark):
    """A peel that empties the graph exactly on round max_iters is a
    converged (empty) core, not a convergence failure — the boundary the
    top-of-loop guard used to miss."""
    from plume_spark.operators.graph_metrics import k_core

    e = spark.createDataFrame([(1, 2)], ["a", "b"])
    assert k_core(e, k=2, max_iters=1).count() == 0


def test_clustering_coefficient_known_graph(spark):
    """Triangle 1-2-3 plus pendant 3-4: cc(1)=cc(2)=1.0 (deg 2, one
    triangle), cc(3)=2*1/(3*2)=0.3333, cc(4)=0.0 (deg 1)."""
    from plume_spark.operators.graph_metrics import clustering_coefficient

    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], ["a", "b"])
    got = {
        r["node"]: (r["deg"], r["n_triangles"], r["cc"])
        for r in clustering_coefficient(e).collect()
    }
    assert got == {
        1: (2, 1, 1.0),
        2: (2, 1, 1.0),
        3: (3, 1, 0.3333),
        4: (1, 0, 0.0),
    }


def test_range_search_matches_topk_scores(spark):
    """range_search and brute_force_topk share one scoring expression:
    every top-k row at or above the radius must appear in the range result
    with the IDENTICAL rounded score (bit-equal floats)."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], 0) for i in range(50)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    topk = {
        r["vec_id"]: r["cos_sim"]
        for r in similarity.brute_force_topk(emb, query_vec_id=0, k=50).collect()
    }
    rng_rows = {
        r["vec_id"]: r["cos_sim"]
        for r in similarity.range_search(emb, query_vec_id=0, tau=0.1).collect()
    }
    expect = {v: s for v, s in topk.items() if s >= 0.1}
    assert rng_rows == expect and rng_rows[0] == 1.0


def test_readability_floors_and_formula(spark):
    """Empty text stays defined (words and sentences floored at 1); a known
    sentence reproduces the Flesch arithmetic exactly."""
    from plume_spark.operators.text import readability

    df = spark.createDataFrame(
        [(1, "the cat sat."), (2, "   ")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in readability(df).collect()}
    # "the cat sat.": 3 words, 1 sentence run, vowel groups: e|a|a -> 3
    r1 = got[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (3, 1, 3)
    expected = round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 2)
    assert r1["flesch"] == expected
    r2 = got[2]
    assert (r2["n_words"], r2["n_sentences"], r2["n_syllables"]) == (1, 1, 0)


def test_peak_concurrency_midnight_span_and_ties(spark):
    """A session spanning midnight counts toward BOTH days (clipped to day
    bounds); touching sessions (end == next start) count as concurrent
    under the starts-before-ends tie rule; a single-point session still
    registers."""
    import datetime as dt

    from plume_spark.operators.temporal import peak_concurrency

    T = dt.datetime
    rows = [
        # spans midnight: active on the 1st and the 2nd
        (T(2024, 1, 1, 23, 0), T(2024, 1, 2, 1, 0)),
        # touches the end of the midnight session exactly -> concurrent
        (T(2024, 1, 2, 1, 0), T(2024, 1, 2, 2, 0)),
        # instantaneous session later that day
        (T(2024, 1, 2, 12, 0), T(2024, 1, 2, 12, 0)),
    ]
    df = spark.createDataFrame(rows, "s_start timestamp, s_end timestamp")
    got = {str(r["day"]): r for r in peak_concurrency(df).collect()}
    assert got["2024-01-01"]["peak_concurrency"] == 1
    assert got["2024-01-01"]["n_active"] == 1
    # at 01:00 on the 2nd, the midnight session's end ties the next start:
    # start sorts first -> both active -> peak 2
    assert got["2024-01-02"]["peak_concurrency"] == 2
    assert got["2024-01-02"]["n_active"] == 3


def test_word_entropy_degenerate_and_uniform(spark):
    """All-same tokens -> entropy 0; k uniform tokens -> ln(k); empty /
    whitespace-only docs drop out (no token rows), matching the oracle."""
    import math

    from plume_spark.operators.text import word_entropy

    df = spark.createDataFrame(
        [
            (1, "a a a a"),
            (2, "a b c d"),
            (3, "   "),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in word_entropy(df).collect()}
    assert set(got) == {1, 2}
    assert got[1]["entropy"] == 0.0 and got[1]["n_distinct_tokens"] == 1
    assert got[2]["entropy"] == round(math.log(4), 6)
    assert got[2]["n_tokens"] == 4 and got[2]["n_distinct_tokens"] == 4


def test_edge_lift_known_graph(spark):
    """Hand-checked lift on a 3-group toy: (a,b) co-occur in 2 of 3 groups,
    each item appears in 2 or 3 -> lift = n_ab * N / (n_a * n_b)."""
    from plume_spark.operators.graph_metrics import edge_lift

    rows = [
        ("g1", "a"), ("g1", "b"),
        ("g2", "a"), ("g2", "b"), ("g2", "c"),
        ("g3", "a"), ("g3", "c"),
    ]
    df = spark.createDataFrame(rows, ["grp", "item"])
    got = {(r["a"], r["b"]): r for r in edge_lift(df, "grp", "item", min_groups=2).collect()}
    ab = got[("a", "b")]
    assert (ab["n_groups"], ab["n_a"], ab["n_b"]) == (2, 3, 2)
    assert ab["lift"] == round(2 * 3 / (3 * 2), 6) == 1.0
    ac = got[("a", "c")]
    assert ac["lift"] == round(2 * 3 / (3 * 2), 6)
    # (b, c) share only g2 -> filtered by min_groups=2
    assert ("b", "c") not in got


def test_new_substrates_turn_ordering_invariants(spark):
    """The north-rule W1 invariant on the round-4 substrates: turn_idx is
    dense 0..n-1 and unique per conversation, and the whole derivation is
    deterministic across independent evaluations (resume/idempotency rests
    on this).  kg_transcripts_varied additionally must carry every 'met'
    reverse turn in the SAME conversation as its forward turn."""
    from pyspark.sql import functions as F

    from plume_spark import graft

    sf = "/root/testdata/sf0.001"
    for fn in (graft.kg_transcripts_varied, graft.kg_transcripts_alias):
        t = fn(spark, sf)
        agg = t.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("turn_idx").alias("d"),
            F.max("turn_idx").alias("mx"),
            F.min("turn_idx").alias("mn"),
        )
        bad = agg.filter(
            (F.col("n") != F.col("d"))
            | (F.col("mx") != F.col("n") - 1)
            | (F.col("mn") != 0)
        ).count()
        assert bad == 0, fn.__name__
        a = sorted(map(tuple, t.collect()))
        b = sorted(map(tuple, fn(spark, sf).collect()))
        assert a == b, fn.__name__
    # every reverse 'met' text has its forward twin in the same conv
    v = graft.kg_transcripts_varied(spark, sf)
    # regexp_extract (empty on no match) instead of split+getItem: ANSI mode
    # errors on out-of-bounds getItem when the optimizer collapses the
    # projection with the filter and evaluates it on non-'met' rows
    pairs = v.select(
        "conv_id",
        F.regexp_extract("text", "^(.*) met (.*)$", 1).alias("x"),
        F.regexp_extract("text", "^(.*) met (.*)$", 2).alias("y"),
    ).filter(F.col("x") != "")
    rev = pairs.select(
        "conv_id", F.col("y").alias("x"), F.col("x").alias("y")
    ).distinct()
    n_sym = pairs.join(rev, ["conv_id", "x", "y"], "left_semi").count()
    assert 0 < n_sym < pairs.count()
