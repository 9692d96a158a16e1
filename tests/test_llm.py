"""Property tests for the approximate (rows-only) LLM operators:
planted-near-dup recall, signature determinism/locality, ANN recall
vs the exact brute-force baseline."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from event_stream_for_k8s_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"


def test_minhash_planted_recall(spark):
    from event_stream_for_k8s_spark.plans.llm import minhash_near_pairs

    pairs = minhash_near_pairs(spark, SF)
    planted = pairs.filter((F.col("id_b") - F.col("id_a")) == 1_000_000)
    # 10 planted near-dups at sf0.001; LSH is probabilistic — require >= 8.
    assert planted.count() >= 8
    # and they must pair a doc with its own perturbed copy
    bad = planted.filter(F.col("id_b") - 1_000_000 != F.col("id_a")).count()
    assert bad == 0


def test_simhash_deterministic_and_local(spark):
    sigs = REGISTRY["llm_dedup_simhash"].spark(spark, SF)
    a = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
    b = {r["doc_id"]: r["simhash"] for r in REGISTRY["llm_dedup_simhash"].spark(spark, SF).collect()}
    assert a == b  # deterministic across runs
    # locality: identical text => identical signature
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(1)
    from event_stream_for_k8s_spark.plans.llm import llm_dedup_simhash  # noqa: F401

    # hamming distance helper on two copies of the same doc
    d0 = docs.collect()[0]
    assert isinstance(a[d0["doc_id"]], int)


def test_knn_lsh_recall_vs_brute(spark):
    brute = {
        (r["qid"], r["nid"])
        for r in REGISTRY["llm_knn_brute"].spark(spark, SF).collect()
    }
    from event_stream_for_k8s_spark.plans.llm import knn_lsh_results

    lsh = {
        (r["qid"], r["nid"])
        for r in knn_lsh_results(spark, SF).collect()
    }
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.3, f"LSH recall too low: {recall}"


def test_knn_ivf_recall_vs_brute(spark):
    brute = {
        (r["qid"], r["nid"])
        for r in REGISTRY["llm_knn_brute"].spark(spark, SF).collect()
    }
    from event_stream_for_k8s_spark.plans.llm import knn_ivf_results

    ivf = {
        (r["qid"], r["nid"])
        for r in knn_ivf_results(spark, SF).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.3, f"IVF recall too low: {recall}"


def test_knn_self_similarity(spark):
    from event_stream_for_k8s_spark.functions.vectors import cosine

    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(20)
    bad = e.select(
        F.round(cosine(F.col("embedding"), F.col("embedding")), 9).alias("s")
    ).filter(F.abs(F.col("s") - 1.0) > 1e-9)
    assert bad.count() == 0


def test_approx_distinct_error_envelope(spark):
    from event_stream_for_k8s_spark.plans.relational import (
        approx_distinct_sketch,
    )

    df = approx_distinct_sketch(spark, SF).collect()
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    for row in df:
        rel = abs(row["approx_parts"] - exact[row["l_returnflag"]]) / exact[
            row["l_returnflag"]
        ]
        assert rel <= 0.05, f"HLL error {rel} out of envelope"


def test_multimodal_decode_text(spark):
    from event_stream_for_k8s_spark.functions.multimodal import (
        attach_payload,
        decode_media,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(10)
    mm = attach_payload(d)
    rows = decode_media(mm).collect()
    assert len(rows) == 10
    assert all(r["byte_len"] >= 1 for r in rows)
    assert all(r["f0"] == r["byte_len"] for r in rows)  # ASCII fixture


def test_multimodal_decode_real_formats(spark):
    """PPM and WAV payloads are genuinely parsed (no external libs)."""
    import struct as st

    from event_stream_for_k8s_spark.functions.multimodal import decode_media

    # 2x2 P6 PPM with a comment line; pixels 0..11.
    ppm = b"P6\n# test\n2 2\n255\n" + bytes(range(12))
    # 4-sample 8kHz mono PCM16 WAV: samples 100, -200, 300, -400.
    data = st.pack("<4h", 100, -200, 300, -400)
    fmt = st.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (
        b"RIFF"
        + st.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + st.pack("<I", len(fmt))
        + fmt
        + b"data"
        + st.pack("<I", len(data))
        + data
    )
    df = spark.createDataFrame(
        [
            (1, bytearray(ppm), "image/x-portable-pixmap", {}),
            (2, bytearray(wav), "audio/wav", {}),
        ],
        "doc_id bigint, payload binary, mime string, meta map<string,string>",
    )
    got = {r["doc_id"]: r for r in decode_media(df).collect()}
    assert (got[1]["f0"], got[1]["f1"]) == (2.0, 2.0)  # width, height
    assert got[1]["f2"] == sum(range(12)) / 12  # mean pixel
    assert got[1]["f3"] == 11.0  # max pixel
    assert (got[2]["f0"], got[2]["f1"]) == (4.0, 8000.0)  # n, rate
    assert got[2]["f2"] == (100 + 200 + 300 + 400) / 4  # mean |amp|
    assert got[2]["f3"] == 400.0  # peak

    # image/jpeg is a REAL decoder since r13 — a truncated stream is a
    # parse error, not the codec boundary; the boundary itself moved
    # to formats with no stdlib decoder (e.g. video/mp4)
    jpeg = spark.createDataFrame(
        [(3, bytearray(b"\xff\xd8\xff"), "image/jpeg", {})],
        "doc_id bigint, payload binary, mime string, meta map<string,string>",
    )
    with pytest.raises(Exception, match="JPEG missing SOF or SOS"):
        decode_media(jpeg).collect()
    mp4 = spark.createDataFrame(
        [(4, bytearray(b"\x00\x00\x00\x18ftypmp42"), "video/mp4", {})],
        "doc_id bigint, payload binary, mime string, meta map<string,string>",
    )
    with pytest.raises(Exception, match="NotImplementedError|no decoder"):
        decode_media(mp4).collect()


def test_png_decode_hand_filtered_spec_vectors():
    """decode_png against HAND-COMPUTED spec filter bytes (PNG §9),
    independent of encode_png — a matched encoder/decoder sign bug
    cannot satisfy this. 1x5 grayscale, pixels [10,20,30,40,50], one
    scanline per filter type:
      y0 None: 10 | y1 Sub (a=0): 20 | y2 Up (prev=20): 30-20=10
      y3 Average (a=0, prev=30 -> 15): 40-15=25
      y4 Paeth (a=0,b=40,c=0 -> pred=b): 50-40=10"""
    import zlib

    from event_stream_for_k8s_spark.functions.multimodal import decode_png

    stream = bytes([0, 10, 1, 20, 2, 10, 3, 25, 4, 10])
    ihdr = (
        (1).to_bytes(4, "big")
        + (5).to_bytes(4, "big")
        + bytes([8, 0, 0, 0, 0])  # 8-bit grayscale, no interlace
    )

    def chunk(cid, body):
        return (
            len(body).to_bytes(4, "big")
            + cid
            + body
            + zlib.crc32(cid + body).to_bytes(4, "big")
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(stream))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png) == (1.0, 5.0, 30.0, 50.0)


def test_png_encode_decode_roundtrip_and_boundaries():
    """encode_png -> decode_png round-trip across channel counts and
    shapes (every image >= 5 rows hits all five filters), plus the
    declared error/boundary surface."""
    import zlib

    import pytest as pt

    from event_stream_for_k8s_spark.functions.multimodal import (
        decode_png,
        encode_png,
    )

    for w, h, ch in [(16, 16, 3), (7, 5, 1), (3, 9, 4), (1, 1, 3), (2, 6, 2)]:
        raw = bytes((i * 37 + 11) % 256 for i in range(w * h * ch))
        f0, f1, f2, f3 = decode_png(encode_png(raw, w, h, channels=ch))
        assert (f0, f1) == (float(w), float(h))
        assert f2 == sum(raw) / len(raw)
        assert f3 == float(max(raw))

    with pt.raises(ValueError, match="not a PNG"):
        decode_png(b"GIF89a")
    with pt.raises(ValueError, match="raw length"):
        encode_png(b"\x00" * 5, 2, 2, channels=3)

    # 16-bit depth: parseable container, declared decoder boundary
    def chunk(cid, body):
        return (
            len(body).to_bytes(4, "big")
            + cid
            + body
            + zlib.crc32(cid + body).to_bytes(4, "big")
        )

    ihdr16 = (
        (1).to_bytes(4, "big")
        + (1).to_bytes(4, "big")
        + bytes([16, 0, 0, 0, 0])
    )
    png16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr16)
        + chunk(b"IDAT", zlib.compress(bytes([0, 0, 1])))
        + chunk(b"IEND", b"")
    )
    with pt.raises(NotImplementedError, match="depth=16"):
        decode_png(png16)


def _jpeg_seg(marker, body):
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _jpeg_hand_headers(w, h, dc_dht, ac_dht, quant=8):
    """Hand-assembled JPEG header stream (SOI..SOS) with a flat quant
    table and CUSTOM tiny Huffman tables — shares no code with
    encode_jpeg_gray, so a matched encoder/decoder bug cannot pass."""
    qt = bytes([0]) + bytes([quant] * 64)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes(
        [1, 1, 0x11, 0]
    )
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + _jpeg_seg(0xDB, qt)
        + _jpeg_seg(0xC0, sof)
        + _jpeg_seg(0xC4, dc_dht)
        + _jpeg_seg(0xC4, ac_dht)
        + _jpeg_seg(0xDA, sos)
    )


def test_jpeg_decode_hand_built_spec_vectors():
    """decode_jpeg_gray against HAND-BUILT bytestreams with
    hand-assigned Huffman codes (spec C.2 canonical construction done
    on paper), hand-computed zigzag position and closed-form DCT
    expectations — fully independent of encode_jpeg_gray.

    Custom tables: DC bits=[0,1,0,...] vals=[2] -> symbol 2 = '00';
    AC bits=[0,2,0,...] vals=[0x00, 0xD2] -> EOB='00', 0xD2='01'.

    Vector 1 (DC only): quantized DC diff 2 (size 2, bits '10'), flat
    Q=8 -> coefficient 16 -> constant 128 + 16/8 = 130.
    Entropy bits: 00 10 00 + pad 1s = 0x23.

    Vector 2 (one AC): after the DC, symbol 0xD2 = run 13, size 2,
    value bits '11' (=3). Zigzag index 14 is flat position 4 = (u=0,
    v=4), the horizontal square wave: dequantized 24 -> pixel row
    130 + 3*[+,-,-,+,+,-,-,+]. Entropy bits: 00 10 01 11 00 + pad =
    0x27 0x3f."""
    import numpy as np

    from event_stream_for_k8s_spark.functions.multimodal import (
        decode_jpeg_gray,
    )

    dc_dht = bytes([0x00, 0, 1] + [0] * 14 + [2])
    ac_dht = bytes([0x10, 0, 2] + [0] * 14 + [0x00, 0xD2])

    head = _jpeg_hand_headers(8, 8, dc_dht, ac_dht)
    img1 = decode_jpeg_gray(head + bytes([0x23]) + b"\xff\xd9")
    assert img1.shape == (8, 8) and (img1 == 130).all()

    img2 = decode_jpeg_gray(head + bytes([0x27, 0x3F]) + b"\xff\xd9")
    row = np.array([133, 127, 127, 133, 133, 127, 127, 133])
    assert (img2 == row[None, :]).all()


def test_jpeg_decode_restart_markers_reset_dc():
    """DRI/RSTn handling: two DC-only blocks separated by RST0, each
    encoding diff=2 — the second block is only 130 (not 132) if the
    DC predictor genuinely resets at the restart marker."""
    from event_stream_for_k8s_spark.functions.multimodal import (
        decode_jpeg_gray,
    )

    dc_dht = bytes([0x00, 0, 1] + [0] * 14 + [2])
    ac_dht = bytes([0x10, 0, 2] + [0] * 14 + [0x00, 0xD2])
    qt = bytes([0]) + bytes([8] * 64)
    sof = bytes([8]) + (8).to_bytes(2, "big") + (16).to_bytes(2, "big") + bytes(
        [1, 1, 0x11, 0]
    )
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    stream = (
        b"\xff\xd8"
        + _jpeg_seg(0xDB, qt)
        + _jpeg_seg(0xC0, sof)
        + _jpeg_seg(0xC4, dc_dht)
        + _jpeg_seg(0xC4, ac_dht)
        + _jpeg_seg(0xDD, (1).to_bytes(2, "big"))  # DRI: restart every MCU
        + _jpeg_seg(0xDA, sos)
        + bytes([0x23])  # block 1: diff 2 -> DC 2 -> 130
        + b"\xff\xd0"  # RST0
        + bytes([0x23])  # block 2: diff 2 AGAIN from a reset predictor
        + b"\xff\xd9"
    )
    img = decode_jpeg_gray(stream)
    assert img.shape == (8, 16) and (img == 130).all()


def test_jpeg_encode_decode_roundtrip_and_boundaries():
    """encode_jpeg_gray -> decode_jpeg_gray: integer-exact on the
    blockwise DC+square-wave family (the llm_mm_decode_jpeg
    construction), bounded-error on general content, shape-exact on
    ragged sizes (partial MCU padding + crop), byte stuffing
    exercised, and the declared NotImplementedError boundary."""
    import numpy as np
    import pytest as pt

    from event_stream_for_k8s_spark.functions.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    sqw = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    rng = np.random.default_rng(7)
    img = np.zeros((16, 16), dtype=np.uint8)
    for p, (bi, bj) in enumerate([(0, 0), (0, 1), (1, 0), (1, 1)]):
        m, a = [40, 120, 90, 60][p], [3, 7, 0, 5][p]
        img[bi * 8 : bi * 8 + 8, bj * 8 : bj * 8 + 8] = m + a * sqw
    assert (decode_jpeg_gray(encode_jpeg_gray(img, 8)) == img).all()

    # hunt content whose entropy stream contains a stuffed 0xFF 0x00
    # so the unstuffing path is provably exercised
    stuffed = None
    for seed in range(200):
        g = np.random.default_rng(seed).integers(
            0, 256, size=(8, 8), dtype=np.uint8
        )
        enc = encode_jpeg_gray(g, 8)
        scan = enc[enc.index(b"\xff\xda") + 14 : -2]
        if b"\xff\x00" in scan:
            stuffed = (g, enc)
            break
    assert stuffed is not None, "no stuffing case found in 200 seeds"
    g, enc = stuffed
    dec = decode_jpeg_gray(enc)
    assert np.abs(dec.astype(int) - g.astype(int)).max() <= 32

    for shape in [(20, 13), (8, 8), (1, 1), (17, 32)]:
        g = rng.integers(0, 256, size=shape, dtype=np.uint8)
        dec = decode_jpeg_gray(encode_jpeg_gray(g, 8))
        assert dec.shape == shape
        assert np.abs(dec.astype(int) - g.astype(int)).max() <= 32

    with pt.raises(ValueError, match="not a JPEG"):
        decode_jpeg_gray(b"\x89PNG\r\n\x1a\n")
    # the boundary since r15 is lossless/hierarchical/arithmetic —
    # progressive (SOF2) DECODES now, so a SOF2 frame whose only scan
    # is a baseline full-band SOS is a structure error, not a decode
    base = encode_jpeg_gray(np.full((8, 8), 130, dtype=np.uint8), 8)
    sof2 = _jpeg_seg(
        0xC2,
        bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    i0 = base.index(b"\xff\xc0")
    sof0_len = 2 + int.from_bytes(base[i0 + 2 : i0 + 4], "big")
    with pt.raises(ValueError, match="DC scan requires Se=0"):
        decode_jpeg_gray(base[:i0] + sof2 + base[i0 + sof0_len :])
    # arithmetic-coded (SOF9) stays out
    sof9 = _jpeg_seg(
        0xC9,
        bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    with pt.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg_gray(b"\xff\xd8" + sof9 + base[2:])
    # extended sequential (SOF1, 8-bit) is coding-identical to baseline
    ext = base[:i0] + b"\xff\xc1" + base[i0 + 2 :]
    assert (decode_jpeg_gray(ext) == decode_jpeg_gray(base)).all()
    # exotic sampling factors (3x3): the boundary since r14 is the
    # factor set, not component count (4:4:4 and 4:2:0 color decode)
    sof_color = _jpeg_seg(
        0xC0,
        bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([3, 1, 0x33, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    with pt.raises(NotImplementedError, match="sampling factors"):
        decode_jpeg_gray(b"\xff\xd8" + sof_color + base[2:])
    # a color SOF with a single-component SOS is a non-interleaved
    # multi-scan stream — rejected, not mis-parsed (REPLACE base's own
    # SOF segment so only the 3-component one is seen)
    sof_420 = _jpeg_seg(
        0xC0,
        bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    i0 = base.index(b"\xff\xc0")
    sof_len = 2 + int.from_bytes(base[i0 + 2 : i0 + 4], "big")
    with pt.raises(NotImplementedError, match="multi-scan"):
        decode_jpeg_gray(base[:i0] + sof_420 + base[i0 + sof_len :])
    # 4-component (CMYK-style) stays out
    sof_cmyk = _jpeg_seg(
        0xC0,
        bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([4, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1, 4, 0x11, 1]),
    )
    with pt.raises(NotImplementedError, match="4-component"):
        decode_jpeg_gray(b"\xff\xd8" + sof_cmyk + base[2:])


def _jpeg_prog_headers(w, h, quant=8):
    """SOI..SOF2 head for hand-built progressive vectors — shares no
    code with encode_jpeg_prog."""
    qt = bytes([0]) + bytes([quant] * 64)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes(
        [1, 1, 0x11, 0]
    )
    return (
        b"\xff\xd8" + _jpeg_seg(0xDB, qt) + _jpeg_seg(0xC2, sof)
    )


def test_jpeg_progressive_hand_built_spec_vectors():
    """decode_jpeg_image against HAND-BUILT progressive bytestreams
    (T.81 Annex G) with hand-assigned canonical codes and closed-form
    DCT expectations — fully independent of encode_jpeg_prog.

    Vector 1 (the full SA ladder on one 8x8 block, DC=2 + AC 3 at
    zigzag 14 = flat position 4, the horizontal square wave):
      scan 1  DC first  Al=1: t=2>>1=1, diff 1 -> table {1:'0'},
              bits '0'+'1' -> 0x7F
      scan 2  AC first  1..63 Al=1: 3>>1=1 at zz14 -> r=13 size 1 =
              symbol 0xD1; table {0x00:'00', 0xD1:'01'}; bits
              '01'+'1'+'00'(EOB0) -> 0x67
      scan 3  DC refine Ah=1,Al=0: bit 2&1=0 -> '0' -> 0x7F
      scan 4  AC refine Ah=1,Al=0: |3|=3>1 -> correction bit 1 rides
              the EOB0 flush; table {0x00:'0'}; bits '0'+'1' -> 0x7F
    Final coefficients 2<<3... DC 2*8=16 -> 130 constant, AC 3*8=24 ->
    row 130 + 3*[+,-,-,+,+,-,-,+]."""
    import numpy as np

    from event_stream_for_k8s_spark.functions.multimodal import (
        decode_jpeg_image,
    )

    dc1 = bytes([0x00, 1] + [0] * 15 + [1])  # {1: '0'}
    ac1 = bytes([0x10, 0, 2] + [0] * 14 + [0x00, 0xD1])
    ac2 = bytes([0x10, 1] + [0] * 15 + [0x00])  # {EOB0: '0'}
    stream = (
        _jpeg_prog_headers(8, 8)
        + _jpeg_seg(0xC4, dc1)
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))
        + bytes([0x7F])
        + _jpeg_seg(0xC4, ac1)
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x01]))
        + bytes([0x67])
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))
        + bytes([0x7F])
        + _jpeg_seg(0xC4, ac2)
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x10]))
        + bytes([0x7F])
        + b"\xff\xd9"
    )
    img = decode_jpeg_image(stream)
    row = np.array([133, 127, 127, 133, 133, 127, 127, 133])
    assert img.shape == (8, 8) and (img == row[None, :]).all()

    # Vector 2: EOB1 spanning two blocks (8x16). DC first at Al=0:
    # diffs 2 then 0 with table {0:'00', 2:'01'} -> '01 10 00' = 0x63;
    # AC first: both blocks empty -> EOBRUN=2 = symbol 0x10 + run bit
    # '0' with table {0x10:'0'} -> '00' -> 0x3F. Constant 130.
    dc2 = bytes([0x00, 0, 2] + [0] * 14 + [0, 2])
    ac3 = bytes([0x10, 1] + [0] * 15 + [0x10])  # {EOB1: '0'}
    stream2 = (
        _jpeg_prog_headers(16, 8)
        + _jpeg_seg(0xC4, dc2)
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00]))
        + bytes([0x63])
        + _jpeg_seg(0xC4, ac3)
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00]))
        + bytes([0x3F])
        + b"\xff\xd9"
    )
    img2 = decode_jpeg_image(stream2)
    assert img2.shape == (8, 16) and (img2 == 130).all()

    # Vector 3: a coefficient INVISIBLE to the first AC scan (1>>1=0)
    # that becomes newly significant in the refinement scan: value 1
    # at zigzag 10 = flat 32 (u=4, v=0), the VERTICAL square wave
    # [+,-,-,+,+,-,-,+] down columns. AC refine sees run r=9 ->
    # symbol 0x91 + sign '1' + EOB0: table {0x00:'00', 0x91:'01'} ->
    # '01'+'1'+'00' = 0x67. DC scans as vector 1.
    stream3 = (
        _jpeg_prog_headers(8, 8)
        + _jpeg_seg(0xC4, dc1)
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))
        + bytes([0x7F])
        + _jpeg_seg(0xC4, ac2)
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x01]))
        + bytes([0x7F])  # EOB0: nothing visible at Al=1
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))
        + bytes([0x7F])
        + _jpeg_seg(
            0xC4, bytes([0x10, 0, 2] + [0] * 14 + [0x00, 0x91])
        )
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x10]))
        + bytes([0x67])
        + b"\xff\xd9"
    )
    img3 = decode_jpeg_image(stream3)
    col = np.array([131, 129, 129, 131, 131, 129, 129, 131])
    assert img3.shape == (8, 8) and (img3 == col[:, None]).all()

    # Vector 4: restart markers inside a progressive DC scan reset the
    # predictor — two blocks, DRI=1, diff=2 each ('0'+'10' = 0x5F per
    # segment with table {2:'0'}) -> constant 130, not 130/146.
    dc3 = bytes([0x00, 1] + [0] * 15 + [2])  # {2: '0'}
    stream4 = (
        _jpeg_prog_headers(16, 8)
        + _jpeg_seg(0xC4, dc3)
        + _jpeg_seg(0xDD, (1).to_bytes(2, "big"))
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00]))
        + bytes([0x5F])
        + b"\xff\xd0"
        + bytes([0x5F])
        + b"\xff\xd9"
    )
    img4 = decode_jpeg_image(stream4)
    assert img4.shape == (8, 16) and (img4 == 130).all()


def test_jpeg_progressive_roundtrip_matches_baseline():
    """encode_jpeg_prog -> decode_jpeg_image is BIT-EXACT against the
    baseline encode/decode of the same image: progressive coding
    reorders when coefficient bits arrive, never which — so with the
    same quant table the reconstructed raster must be identical. Runs
    gray + color at every subsampling, ragged sizes, quant extremes,
    sparse content (long cross-block EOB runs) and custom scan
    scripts (deep successive-approximation ladders, no-SA)."""
    import numpy as np

    from event_stream_for_k8s_spark.functions.multimodal import (
        decode_jpeg_image,
        encode_jpeg_color,
        encode_jpeg_gray,
        encode_jpeg_prog,
    )

    rng = np.random.default_rng(15)
    for shape in [(8, 8), (24, 17), (31, 9), (1, 1)]:
        for q in (1, 8, 64):
            g = rng.integers(0, 256, shape, dtype=np.uint8)
            base = decode_jpeg_image(encode_jpeg_gray(g, q))
            prog = decode_jpeg_image(encode_jpeg_prog(g, q))
            assert (base == prog).all(), (shape, q)
    # sparse content: one energetic block in a flat field exercises
    # EOBn runs spanning dozens of blocks plus ZRL inside the block
    spot = np.full((64, 64), 100, dtype=np.uint8)
    spot[5, 5], spot[40, 60] = 255, 0
    assert (
        decode_jpeg_image(encode_jpeg_prog(spot, 8))
        == decode_jpeg_image(encode_jpeg_gray(spot, 8))
    ).all()
    for sub in ("444", "420", "422"):
        c = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
        base = decode_jpeg_image(encode_jpeg_color(c, 8, subsampling=sub))
        prog = decode_jpeg_image(encode_jpeg_prog(c, 8, subsampling=sub))
        assert (base == prog).all(), sub
    g = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    base = decode_jpeg_image(encode_jpeg_gray(g, 8))
    for script in (
        [((0,), 0, 0, 0, 0), ((0,), 1, 63, 0, 0)],  # no SA at all
        [((0,), 0, 0, 0, 2), ((0,), 1, 20, 0, 3), ((0,), 21, 63, 0, 3),
         ((0,), 1, 63, 3, 2), ((0,), 0, 0, 2, 1), ((0,), 0, 0, 1, 0),
         ((0,), 1, 63, 2, 1), ((0,), 1, 63, 1, 0)],  # deep SA ladder
    ):
        assert (
            decode_jpeg_image(encode_jpeg_prog(g, 8, script=script)) == base
        ).all()


def test_jpeg_progressive_script_property():
    """Hypothesis property: for ANY image content, size, quant and any
    spec-valid successive-approximation scan script (random band split,
    random DC/AC precision ladders), the progressive round trip decodes
    BIT-EXACTLY to the baseline round trip — the coefficients are the
    same, only their bit arrival order differs. Pure-Python codec, so
    examples are cheap."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from event_stream_for_k8s_spark.functions.multimodal import (
        decode_jpeg_image,
        encode_jpeg_gray,
        encode_jpeg_prog,
    )

    def build_script(split, al_dc, al_ac):
        script = [((0,), 0, 0, 0, al_dc)]
        for a in range(al_dc - 1, -1, -1):
            script.append(((0,), 0, 0, a + 1, a))
        script.append(((0,), 1, split, 0, al_ac))
        script.append(((0,), split + 1, 63, 0, al_ac))
        for a in range(al_ac - 1, -1, -1):
            script.append(((0,), 1, 63, a + 1, a))
        return script

    @given(
        h=st.integers(1, 24),
        w=st.integers(1, 24),
        quant=st.sampled_from([1, 4, 8, 32]),
        split=st.integers(1, 62),
        al_dc=st.integers(0, 3),
        al_ac=st.integers(0, 3),
        seed=st.integers(0, 2**31 - 1),
        flat=st.booleans(),
    )
    @settings(max_examples=60, deadline=None)
    def prop(h, w, quant, split, al_dc, al_ac, seed, flat):
        rng = np.random.default_rng(seed)
        img = (
            np.full((h, w), int(rng.integers(0, 256)), dtype=np.uint8)
            if flat  # flat images maximize EOB-run coverage
            else rng.integers(0, 256, (h, w), dtype=np.uint8)
        )
        base = decode_jpeg_image(encode_jpeg_gray(img, quant))
        prog = decode_jpeg_image(
            encode_jpeg_prog(
                img, quant, script=build_script(split, al_dc, al_ac)
            )
        )
        assert (base == prog).all()

    prop()


def test_jpeg_fancy_chroma_upsample():
    """The libjpeg-default 'fancy' (triangle) chroma upsample as a
    decoder option (r15): kernels pinned against HAND-COMPUTED
    jdsample.c arithmetic, constants are a fixed point (so gray
    content decodes identically under both modes and the exact-oracle
    self-round-trip default stays replicate), and on saturated-color
    4:2:0 content the filter genuinely produces the interpolated
    rendering, not replication."""
    import numpy as np

    from event_stream_for_k8s_spark.functions.multimodal import (
        _jpeg_fancy_upsample_h,
        _jpeg_fancy_upsample_hv,
        _jpeg_fancy_upsample_v,
        decode_jpeg_image,
        encode_jpeg_color,
    )

    # h2v1: out[2i] = (3c+prev+1)>>2, out[2i+1] = (3c+next+2)>>2
    row = np.array([[10, 20]], dtype=np.int64)
    assert _jpeg_fancy_upsample_h(row).tolist() == [[10, 13, 17, 20]]
    assert _jpeg_fancy_upsample_v(row.T).T.tolist() == [[10, 13, 17, 20]]
    # h2v2: 3:1 column sums then the +8/+7 horizontal split — NOT two
    # separable 2x passes; hand-computed from jdsample.c
    col = np.array([[0], [16]], dtype=np.int64)
    assert _jpeg_fancy_upsample_hv(col).tolist() == [
        [0, 0], [4, 4], [12, 12], [16, 16]
    ]
    # constants are a fixed point of every kernel
    const = np.full((3, 4), 77, dtype=np.int64)
    assert (_jpeg_fancy_upsample_hv(const) == 77).all()
    assert (_jpeg_fancy_upsample_h(const) == 77).all()
    assert (_jpeg_fancy_upsample_v(const) == 77).all()

    # gray content (neutral chroma): both modes decode identically,
    # so the integer-exact oracle family is untouched by the option
    rng = np.random.default_rng(15)
    gray3 = np.repeat(
        rng.integers(0, 256, (16, 16, 1), dtype=np.uint8), 3, axis=2
    )
    enc = encode_jpeg_color(gray3, 8, subsampling="420")
    assert (
        decode_jpeg_image(enc, chroma_upsample="fancy")
        == decode_jpeg_image(enc)
    ).all()

    # saturated color: fancy genuinely interpolates (differs from
    # replication) while staying a valid raster
    color = np.zeros((16, 16, 3), dtype=np.uint8)
    color[:, :8] = (255, 0, 0)
    color[:, 8:] = (0, 0, 255)
    enc = encode_jpeg_color(color, 8, subsampling="420")
    rep = decode_jpeg_image(enc)
    fan = decode_jpeg_image(enc, chroma_upsample="fancy")
    assert fan.shape == rep.shape and (fan != rep).any()
    # 4:2:2 exercises the h-only kernel end to end
    enc422 = encode_jpeg_color(color, 8, subsampling="422")
    fan422 = decode_jpeg_image(enc422, chroma_upsample="fancy")
    assert fan422.shape == rep.shape
    assert (fan422 != decode_jpeg_image(enc422)).any()


def test_jpeg_decode_through_decode_media(spark):
    """image/jpeg dispatches through the same mapInPandas decode path
    as PNG/PPM/WAV with the shared feature contract."""
    import numpy as np

    from event_stream_for_k8s_spark.functions.multimodal import (
        decode_media,
        encode_jpeg_gray,
    )

    img = np.full((8, 8), 130, dtype=np.uint8)
    df = spark.createDataFrame(
        [(9, bytearray(encode_jpeg_gray(img, 8)), "image/jpeg")],
        "doc_id long, payload binary, mime string",
    )
    rows = decode_media(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["f0"], r["f1"], r["f2"], r["f3"]) == (8.0, 8.0, 130.0, 130.0)


def test_y4m_roundtrip_colorspaces_and_boundaries():
    """encode_y4m -> y4m_frames round-trip, plus hand-built streams:
    C420 (chroma skipped, Y plane exact), FRAME parameter tolerance,
    the C-absent default (420 per spec), and the declared boundary."""
    import numpy as np
    import pytest as pt

    from event_stream_for_k8s_spark.functions.multimodal import (
        encode_y4m,
        y4m_frames,
    )

    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 256, (16, 16), dtype=np.uint8) for _ in range(3)]
    w, h, dec = y4m_frames(encode_y4m(frames, 16, 16))
    assert (w, h, len(dec)) == (16, 16, 3)
    for a, b in zip(frames, dec):
        assert (a == b).all()

    # hand-built C420 stream (2x2): Y plane + 1 byte Cb + 1 byte Cr
    y = bytes([10, 20, 30, 40])
    s420 = b"YUV4MPEG2 W2 H2 F30:1 C420\n" + b"FRAME\n" + y + b"\x80\x80"
    w, h, dec = y4m_frames(s420)
    assert (w, h) == (2, 2) and (dec[0].ravel() == list(y)).all()

    # C absent -> spec default 420; FRAME params tolerated
    s_def = b"YUV4MPEG2 W2 H2 F30:1\n" + b"FRAME Ixyz\n" + y + b"\x80\x80"
    _, _, dec = y4m_frames(s_def)
    assert (dec[0].ravel() == list(y)).all()

    with pt.raises(ValueError, match="not a YUV4MPEG2"):
        y4m_frames(b"RIFF....WAVE")
    with pt.raises(NotImplementedError, match="C411"):
        y4m_frames(b"YUV4MPEG2 W2 H2 C411\n" + b"FRAME\n" + y)
    with pt.raises(ValueError, match="truncated Y4M frame plane"):
        y4m_frames(b"YUV4MPEG2 W2 H2 Cmono\n" + b"FRAME\n" + y[:2])
    with pt.raises(ValueError, match="frame marker sync"):
        y4m_frames(b"YUV4MPEG2 W2 H2 Cmono\n" + b"JUNK!\n" + y)


def test_video_scenes_planted_static_and_cut(spark):
    """llm_mm_video_scenes on crafted docs: identical frames => no
    scene cut anywhere; a hard content switch at frame 1 => cut. Also
    pins frame count and the lag-window keying (first frame of every
    doc is never a cut)."""
    from event_stream_for_k8s_spark.plans.registry import REGISTRY

    rows = REGISTRY["llm_mm_video_scenes"].spark(spark, SF).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) == 3 for v in by_doc.values())
    for v in by_doc.values():
        v.sort(key=lambda r: r["frame_id"])
        assert v[0]["scene_cut"] is False
    # the corpus has short docs whose tail frames are all padding:
    # identical blank frames => hash-equal => no cut between them
    static = [
        v
        for v in by_doc.values()
        if v[1]["phash"] == v[2]["phash"]
    ]
    assert static and all(not v[2]["scene_cut"] for v in static)
    # and long text docs flip content across frames => some cuts
    assert any(r["scene_cut"] for r in rows)


def test_mm_dedup_video_planted_pairs(spark):
    """The video near-dup query recovers planted byte-identical
    videos at n_shared=3 and first-scene perturbations at n_shared>=2
    — unless a shared frame's (frame_id, phash) bucket overflows the
    cap (blank padding frames collide corpus-wide by design)."""
    from event_stream_for_k8s_spark.plans.registry import REGISTRY

    d = spark.read.parquet(f"{SF}/documents.parquet")
    planted = [
        r["doc_id"]
        for r in d.filter("doc_id % 50 = 0").select("doc_id").collect()
    ]
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in REGISTRY["llm_mm_dedup_video"].spark(spark, SF).collect()
    }
    assert planted
    found = perturbed_found = 0
    for did in planted:
        n = pairs.get((did, did + 1_000_000))
        if n is not None:
            assert 1 <= n <= 3
            found += 1
        n2 = pairs.get((did, did + 2_000_000))
        if n2 is not None:
            # the 3-char perturbation only changes frame 0
            assert 1 <= n2 <= 2
            perturbed_found += 1
    assert found >= len(planted) * 0.5
    assert perturbed_found >= 1


def test_png_decode_through_decode_media(spark):
    """image/png dispatches through the same mapInPandas decode path
    as PPM/WAV, feature contract included."""
    from event_stream_for_k8s_spark.functions.multimodal import (
        decode_media,
        encode_png,
    )

    raw = bytes(range(48))  # 4x4 RGB
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(raw, 4, 4)), "image/png", {})],
        "doc_id bigint, payload binary, mime string, meta map<string,string>",
    )
    r = decode_media(df).collect()[0]
    assert (r["f0"], r["f1"]) == (4.0, 4.0)
    assert r["f2"] == sum(raw) / 48
    assert r["f3"] == 47.0


def test_multimodal_resize_nearest_neighbor(spark):
    """4x4 -> 2x2 nearest-neighbor picks pixels (0,0),(0,2),(2,0),(2,2)."""
    from event_stream_for_k8s_spark.functions.multimodal import resize_media

    # pixel value = its flat index (0..15), gray (r=g=b)
    px = bytes(v for i in range(16) for v in (i, i, i))
    ppm = b"P6\n4 4\n255\n" + px
    df = spark.createDataFrame(
        [(1, bytearray(ppm))], "doc_id bigint, payload binary"
    )
    r = resize_media(df, out_w=2, out_h=2).collect()[0]
    picked = [0, 2, 8, 10]  # flat indices at rows/cols {0,2}
    assert (r["in_w"], r["in_h"], r["out_w"], r["out_h"]) == (4, 4, 2, 2)
    assert r["mean_px"] == sum(picked) * 3 / 12
    assert r["checksum"] == sum(picked) * 3 % 997


def test_asof_join_handcrafted(spark):
    from event_stream_for_k8s_spark.operators import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (3, 5, "d")],
        "k int, t int, tag string",
    ).select("k", F.col("t").cast("timestamp").alias("t"), "tag")
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 15, 200), (2, 15, 300), (2, 99, 400)],
        "k int, t int, payload int",
    ).select("k", F.col("t").cast("timestamp").alias("t"), "payload")
    got = {
        (r["k"], r["tag"]): r["payload_asof"]
        for r in asof_join(
            left.withColumnRenamed("t", "lt"),
            right.withColumnRenamed("t", "rt"),
            on=["k"],
            left_time="lt",
            right_time="rt",
            payload=["payload"],
            tiebreak="payload",
        ).collect()
    }
    assert got[(1, "a")] == 100  # t=10: latest right <= 10 is t=5
    assert got[(1, "b")] == 200  # t=20: right t=15
    assert got[(2, "c")] == 300  # boundary: right at exactly t matches
    assert got[(3, "d")] is None  # no right rows for key 3


def test_knn_pq_recall_vs_brute(spark):
    brute = {
        (r["qid"], r["nid"])
        for r in REGISTRY["llm_knn_brute"].spark(spark, SF).collect()
    }
    from event_stream_for_k8s_spark.plans.llm import knn_pq_results

    pq = {
        (r["qid"], r["nid"])
        for r in knn_pq_results(spark, SF).collect()
    }
    recall = len(brute & pq) / len(brute)
    # PQ shortlist (top 10%) + exact re-rank: 0.9 measured; floor at
    # 0.7 to absorb codebook sensitivity
    assert recall >= 0.7, f"PQ recall too low: {recall}"


def test_connected_components_planted(spark):
    from event_stream_for_k8s_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)],
                                  "id bigint")
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    # path 1-2-3-4 collapses to min id 1 (diameter > 1 => needs
    # multiple propagation rounds), pair to 10, isolate to itself
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_pagerank_invariants(spark):
    import pyspark.sql.functions as F

    from event_stream_for_k8s_spark.operators.graph import pagerank

    # tiny known graph: star (0 central) + isolated node 4
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 2), (2, 0), (0, 3), (3, 0)], "src int, dst int"
    )
    nodes = spark.createDataFrame([(i,) for i in range(5)], "node int")
    r = pagerank(edges, nodes, iters=20)
    rows = {x["node"]: x["rank"] for x in r.collect()}
    # mass conserved
    assert abs(sum(rows.values()) - 1.0) < 1e-9
    # hub out-ranks leaves, leaves out-rank the isolated node
    assert rows[0] > rows[1] > rows[4]
    # leaves are symmetric
    assert abs(rows[1] - rows[2]) < 1e-12 and abs(rows[2] - rows[3]) < 1e-12


def test_sign_lsh_recall_on_planted_near_dups(spark):
    """Banded sign-LSH must capture nearly all planted high-cosine
    pairs: each planted copy flips ONE of 64 dims, so at most one of
    the 4 sign bands (over dims 0..15) can disagree — recall on these
    pairs is exact-by-construction >= 1, and the test also pins that
    unrelated orthogonal vectors are NOT all candidates."""
    from event_stream_for_k8s_spark.operators.similarity import (
        sign_lsh_candidates,
    )

    import random

    rng = random.Random(42)
    base = [
        [rng.uniform(-1, 1) for _ in range(64)] for _ in range(30)
    ]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v))
        dup = list(v)
        flip = 16 + (i % 48)  # perturb OUTSIDE the banded dims
        dup[flip] = -dup[flip]
        rows.append((1000 + i, dup))  # planted near-dup of i
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in sign_lsh_candidates(df, "vec_id", "embedding").collect()
    }
    planted = {(i, 1000 + i) for i in range(30)}
    recall = len(planted & got) / len(planted)
    assert recall == 1.0, f"planted-pair recall {recall}"
    # sanity: banding prunes — candidates far below all-pairs
    n = df.count()
    assert len(got) < n * (n - 1) / 2


def test_minhash_sig_identity_and_disjointness(spark):
    # identical token streams => identical signatures; disjoint
    # vocabularies => (with overwhelming probability over 8 exact
    # perms on distinct gram sets) differing signatures. Both are
    # deterministic here: fixed inputs, fixed permutation constants.
    from event_stream_for_k8s_spark.functions.text import (
        gram3_hashes,
        token_hash,
    )
    from event_stream_for_k8s_spark.plans.llm import _MINHASH_PERMS
    from event_stream_for_k8s_spark.functions.text import MOD

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact copy of 1
        (3, "uno dos tres cuatro cinco seis"),  # disjoint vocab
    ]
    d = spark.createDataFrame(docs, "doc_id int, text string")
    ht = F.transform(F.split("text", " "), token_hash)
    grams = d.select("doc_id", gram3_hashes(ht).alias("h"))
    h = F.col("h")

    def perm_min(a, b):
        return F.array_min(F.transform(h, lambda x: (x * a + b) % MOD))

    sig = F.array(*[perm_min(a, b) for a, b in _MINHASH_PERMS])
    rows = {r.doc_id: tuple(r.sig) for r in grams.select(
        "doc_id", sig.alias("sig")).collect()}
    assert rows[1] == rows[2]
    assert len(rows[1]) == 8 and all(v is not None for v in rows[1])
    # agreement on disjoint gram sets would require a permuted-min
    # collision; assert the signatures differ in at least half the slots
    agree = sum(a == b for a, b in zip(rows[1], rows[3]))
    assert agree <= 4, (rows[1], rows[3])


def test_fuzzy_blocking_key_total_on_short_docs(spark, tmp_path):
    """Regression (ADVICE r02): for a document with fewer than two
    tokens, Spark's concat_ws skips a null second token ('tok') while
    the DuckDB oracle's split_part yields '' ('tok '). The key must be
    total — both engines must block such docs identically. Build a
    corpus containing 0/1/2-token docs and run the full oracle
    differential for both fuzzy-blocked queries."""
    import os

    from tests.conftest import SF_SMOKE
    from event_stream_for_k8s_spark.catalog import TABLES
    from event_stream_for_k8s_spark.plans import REGISTRY
    from event_stream_for_k8s_spark.testing.oracle import (
        check_query,
        connect_oracle,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in TABLES:  # oracle views bind eagerly; link the full set
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    os.unlink(f"{sf}/documents.parquet")
    docs = [
        (1, "solo", "en", "web", 4),
        (2, "solo", "en", "web", 4),          # 1-token near-pair
        (3, "", "en", "web", 0),              # empty text
        (4, "two tokens here", "en", "web", 15),
        (5, "two tokens there", "en", "web", 16),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).toPandas().to_parquet(f"{sf}/documents.parquet", index=False)
    con = connect_oracle(sf)
    try:
        for name in ("llm_dedup_ngram", "join_fuzzy_blocked"):
            res = check_query(spark, con, REGISTRY[name], sf)
            assert res.ok, str(res)
    finally:
        con.close()


def test_dedup_ngram_block_cap_bounds_pairs(spark, tmp_path):
    """VERDICT r02 'What's wrong' #1: a Zipf-head mega-block must not
    go quadratic. 300 docs sharing one blocking key are salted into
    ceil(300/CAP) sub-blocks of <=CAP docs; candidate pairs are exactly
    sum-of-C(sub,2) — far below C(300,2) — and the DuckDB oracle
    reproduces the capped semantics bit-for-bit."""
    import math
    import os

    from tests.conftest import SF_SMOKE
    from event_stream_for_k8s_spark.catalog import TABLES
    from event_stream_for_k8s_spark.plans import REGISTRY
    from event_stream_for_k8s_spark.plans.llm import NGRAM_BLOCK_CAP
    from event_stream_for_k8s_spark.testing.oracle import (
        check_query,
        connect_oracle,
    )

    n = 300
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in TABLES:
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    os.unlink(f"{sf}/documents.parquet")
    docs = [
        (i, f"the quick brown fox jumps over doc {i} again {i}", "en",
         "web", 40)
        for i in range(n)
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).toPandas().to_parquet(f"{sf}/documents.parquet", index=False)

    got = REGISTRY["llm_dedup_ngram"].spark(spark, sf).count()
    sizes = [
        min(NGRAM_BLOCK_CAP, n - i) for i in range(0, n, NGRAM_BLOCK_CAP)
    ]
    expected = sum(s * (s - 1) // 2 for s in sizes)
    assert got == expected, (got, expected)
    assert got < math.comb(n, 2) / 2  # no quadratic mega-block
    con = connect_oracle(sf)
    try:
        res = check_query(spark, con, REGISTRY["llm_dedup_ngram"], sf)
        assert res.ok, str(res)
    finally:
        con.close()


def test_token_budget_boundary_cases(spark, tmp_path):
    """llm_token_budget's histogram+boundary-rank derivation must equal
    the naive global running sum on crafted corpora: budget landing
    exactly on a bucket edge, mid-bucket, and beyond the corpus."""
    import os

    from tests.conftest import SF_SMOKE
    from event_stream_for_k8s_spark.catalog import TABLES
    from event_stream_for_k8s_spark.plans import REGISTRY
    from event_stream_for_k8s_spark.plans.llm import _TOKEN_BUDGET

    def run_case(tag, docs):
        sf = str(tmp_path / tag)
        os.makedirs(sf)
        for t in TABLES:
            os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
        os.unlink(f"{sf}/documents.parquet")
        rows = [
            (i, " ".join(f"w{j}" for j in range(n)), "en", src, n)
            for i, (n, src) in enumerate(docs)
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).toPandas().to_parquet(f"{sf}/documents.parquet", index=False)
        got = {
            r["source"]: (r["n_selected"], r["tok_selected"])
            for r in REGISTRY["llm_token_budget"].spark(spark, sf).collect()
        }
        # naive: global order by (ntok desc, doc_id), running sum <= B
        order = sorted(enumerate(docs), key=lambda x: (-x[1][0], x[0]))
        exp: dict = {}
        cum = 0
        for i, (n, src) in order:
            cum += n
            if cum > _TOKEN_BUDGET:
                break
            c, t = exp.get(src, (0, 0))
            exp[src] = (c + 1, t + n)
        assert got == exp, (tag, got, exp)

    B = _TOKEN_BUDGET
    # budget exactly consumed by the first length bucket
    run_case("edge", [(100, "a")] * (B // 100) + [(50, "b")] * 10)
    # boundary lands mid-bucket: only a prefix (by doc_id) is admitted
    run_case("mid", [(70, "a")] * (B // 70 + 40) + [(30, "b")] * 5)
    # budget exceeds the whole corpus: everything selected
    run_case("all", [(40, "a"), (25, "b"), (33, "a")])


def test_dedup_substring_planted_window(spark, tmp_path):
    """llm_dedup_substring must flag exactly the docs that share an
    8-token run, with the shared-window count matching the planted
    overlap (windows fully inside the common run)."""
    import os

    from tests.conftest import SF_SMOKE
    from event_stream_for_k8s_spark.catalog import TABLES
    from event_stream_for_k8s_spark.plans import REGISTRY

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in TABLES:
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    os.unlink(f"{sf}/documents.parquet")
    common = " ".join(f"c{i}" for i in range(12))  # 12-token shared run
    docs = [
        (1, f"a1 a2 a3 {common} a4 a5", "en", "web", 0),
        (2, f"b1 b2 {common} b3 b4 b5 b6", "en", "web", 0),
        (3, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10", "en", "web", 0),  # clean
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).toPandas().to_parquet(f"{sf}/documents.parquet", index=False)
    rows = {
        r["doc_id"]: r
        for r in REGISTRY["llm_dedup_substring"].spark(spark, sf).collect()
    }
    # a 12-token common run yields 12-8+1 = 5 fully-shared windows
    assert rows[1]["n_shared"] == 5, rows[1]
    assert rows[2]["n_shared"] == 5, rows[2]
    assert rows[3]["n_shared"] == 0, rows[3]
    assert rows[3]["shared_frac"] == 0.0


def test_char_entropy_extremes(spark, tmp_path):
    """Entropy pins: a single repeated char is 0 bits, k distinct
    equiprobable chars are exactly log2(k) bits."""
    import math
    import os

    from tests.conftest import SF_SMOKE
    from event_stream_for_k8s_spark.catalog import TABLES
    from event_stream_for_k8s_spark.plans import REGISTRY

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in TABLES:
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    os.unlink(f"{sf}/documents.parquet")
    docs = [
        (1, "aaaaaaaa", "en", "web", 8),
        (2, "abcdefgh", "en", "web", 8),
        (3, "", "en", "web", 0),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).toPandas().to_parquet(f"{sf}/documents.parquet", index=False)
    out = {
        r["doc_id"]: r.asDict()
        for r in REGISTRY["llm_char_entropy"].spark(spark, sf).collect()
    }
    assert out[1]["entropy"] == 0.0
    assert abs(out[2]["entropy"] - math.log2(8)) < 1e-6
    assert out[3]["n_cp"] == 0 and out[3]["entropy"] is None


def test_dsir_weights_prefer_target_like_docs(spark, tmp_path):
    """DSIR: documents sharing bigrams with the target (English)
    slice must carry a higher log importance weight than documents
    whose bigrams only ever appear outside the target."""
    import os

    from tests.conftest import SF_SMOKE
    from event_stream_for_k8s_spark.catalog import TABLES
    from event_stream_for_k8s_spark.plans import REGISTRY

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in TABLES:
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    os.unlink(f"{sf}/documents.parquet")
    docs = (
        # target slice: repeated English-y bigrams
        [(i, "the model learns the data", "en", "web", 25)
         for i in range(1, 9)]
        # candidate that looks like the target (same bigrams, not en)
        + [(20, "the model learns", "de", "web", 16)]
        # candidate sharing nothing with the target slice
        + [(21, "der zug kommt spaet an", "de", "web", 22)]
    )
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).toPandas().to_parquet(f"{sf}/documents.parquet", index=False)
    out = {
        r["doc_id"]: r.asDict()
        for r in REGISTRY["llm_dsir_weights"].spark(spark, sf).collect()
    }
    # per-gram normalized comparison: target-like beats target-unlike
    a = out[20]["logw"] / out[20]["n_grams"]
    b = out[21]["logw"] / out[21]["n_grams"]
    assert a > b, (a, b)
    # target slice docs themselves score highest of all
    assert max(out[i]["logw"] / out[i]["n_grams"] for i in range(1, 9)) > a


def test_ngram_novelty_dup_scores_zero(spark, tmp_path):
    """An exact duplicate (higher doc_id) has novelty 0 — every gram
    first occurred in the original; the original scores 1."""
    import os

    from tests.conftest import SF_SMOKE
    from event_stream_for_k8s_spark.catalog import TABLES
    from event_stream_for_k8s_spark.plans import REGISTRY

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in TABLES:
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    os.unlink(f"{sf}/documents.parquet")
    docs = [
        (1, "alpha beta gamma delta epsilon", "en", "web", 30),
        (2, "alpha beta gamma delta epsilon", "en", "web", 30),
        (3, "totally different tokens in here now", "en", "web", 36),
        (4, "ab", "en", "web", 2),  # under 3 tokens: no grams
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).toPandas().to_parquet(f"{sf}/documents.parquet", index=False)
    out = {
        r["doc_id"]: r.asDict()
        for r in REGISTRY["llm_ngram_novelty"].spark(spark, sf).collect()
    }
    assert out[1]["novelty_frac"] == 1.0
    assert out[2]["novelty_frac"] == 0.0
    assert out[3]["novelty_frac"] == 1.0
    assert out[4]["n_grams_distinct"] == 0
    assert out[4]["novelty_frac"] is None


def test_semdedup_cap_knob_matches_oracle_at_cap():
    """SPARK_GRAFT_SEMDEDUP_CAP is a real knob (round 6): with a tiny
    cap the fixture goes fully AT-CAP (every cluster salted into many
    blocks) and the Spark result must still hash-match the oracle,
    which interpolates the same constant. Runs in a subprocess because
    the cap is bound at registry import (a reload would re-register
    every query). This empirically pins the at-cap salt semantics the
    sf1 soak analysis reasons about."""
    import os
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parents[1]
    env = dict(os.environ, SPARK_GRAFT_SEMDEDUP_CAP="7")
    proc = subprocess.run(
        [sys.executable, "tools/selfcheck.py", "llm_semdedup",
         "--sf", "/root/testdata/sf0.001"],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "1/1 ok" in proc.stdout


def test_semdedup_target_knob_splits_without_recall_loss():
    """SPARK_GRAFT_SEMDEDUP_TARGET (round 7, VERDICT r06 #2) is the
    size-aware sub-clustering knob: with a tiny target every fixture
    label sub-splits into sign-quantizer cells (depth > 0), and the
    result must (a) still hash-match the oracle, which interpolates
    the same constant, and (b) keep ALL 500 planted exact-duplicate
    drops — exact duplicates share every sign bit, so the
    embedding-derived cell NEVER separates them, unlike the blind
    row_number salt (at sf0.001 the default-knob run also yields 500,
    so recall vs the unsplit form is exactly 100%). Subprocess because
    the knob binds at registry import."""
    import os
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parents[1]
    env = dict(os.environ, SPARK_GRAFT_SEMDEDUP_TARGET="16")
    proc = subprocess.run(
        [sys.executable, "tools/selfcheck.py", "llm_semdedup",
         "--sf", "/root/testdata/sf0.001"],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "1/1 ok" in proc.stdout
    # spark=500: the full planted-duplicate set survives the split
    assert "spark=500" in proc.stdout, proc.stdout[-2000:]


def test_semdedup_bad_knob_names_the_env_var():
    """A malformed scale-knob value must fail the import with an
    error NAMING the variable, not a bare ValueError from int()
    (ADVICE r06). Subprocess: knobs bind at plans-package import."""
    import os
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parents[1]
    env = dict(os.environ, SPARK_GRAFT_SEMDEDUP_CAP="4k")
    proc = subprocess.run(
        [sys.executable, "-c",
         "import event_stream_for_k8s_spark.plans"],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert "SPARK_GRAFT_SEMDEDUP_CAP" in proc.stderr
    assert "'4k'" in proc.stderr


def test_semdedup_kmeans_recall_covers_label_form(spark):
    """llm_semdedup_kmeans (real k-means cells, VERDICT r07 #5) must
    recover at least the label-based form's planted-pair drop set:
    identical planted duplicates always land in the same k-means cell
    (identical points get identical assignments) and share every sign
    bit, so neither the quantizer nor the sub-split can separate
    them. At this SF both forms drop exactly the 500 planted ids."""
    label_drops = {
        r["dropped_id"]
        for r in REGISTRY["llm_semdedup"].spark(spark, SF).collect()
    }
    from event_stream_for_k8s_spark.plans.llm import (
        semdedup_kmeans_drops,
    )

    kmeans_drops = {
        r["dropped_id"]
        for r in semdedup_kmeans_drops(spark, SF).collect()
    }
    assert label_drops <= kmeans_drops
    # and the planted set itself: every original id's +100000 twin
    assert label_drops == {
        r["vec_id"] + 100000
        for r in spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id")
        .collect()
    }


def test_semdedup_kmeans_salt_split_exemption_empty_here(spark):
    """llm_semdedup_kmeans exempts planted twins in salt-SPLIT
    (cell, subkey) blocks from its recall assertion (ADVICE r08: a
    twin pair straddling a row_number salt boundary is a declared
    recall cost, not a gate failure). The query's notes claim the
    exemption is empty at current fixtures — pin that: no block
    exceeds SEMDEDUP_CLUSTER_CAP, so max(salt) == 0 everywhere and
    the recall gate still checks every droppable twin."""
    from event_stream_for_k8s_spark.plans.llm import (
        _semdedup_blocks,
        _semdedup_kmeans_cells,
    )

    blocks = _semdedup_blocks(_semdedup_kmeans_cells(spark, SF))
    assert blocks.agg(F.max("salt")).first()[0] == 0
    blocks.unpersist()


def test_dedup_clusters_lsh_refines_anchor(spark):
    """llm_dedup_clusters_lsh (VERDICT r09 #2) must be a strict
    REFINEMENT of the all-pairs anchor: its edge set is a subset of
    the anchor's (sign-LSH candidates ⊆ all pairs, label blocking
    only removes pairs, same rounded-cosine threshold), and connected
    components of a subgraph only ever split the supergraph's
    components — so any two ids sharing an LSH cluster must share an
    anchor cluster. Also pins the node universe: every vec_id gets a
    cluster row in both forms (singletons included via nodes=)."""
    anchor = {
        r["vec_id"]: r["cluster_id"]
        for r in REGISTRY["llm_dedup_clusters"].spark(spark, SF).collect()
    }
    lsh = {
        r["vec_id"]: r["cluster_id"]
        for r in REGISTRY["llm_dedup_clusters_lsh"]
        .spark(spark, SF)
        .collect()
    }
    assert set(lsh) == set(anchor)
    from collections import defaultdict

    groups = defaultdict(list)
    for v, c in lsh.items():
        groups[c].append(v)
    for members in groups.values():
        assert len({anchor[v] for v in members}) == 1


def test_dedup_clusters_lsh_identical_twins_always_cluster(spark):
    """Planted-duplicate recall floor for the bucketed cluster form:
    an IDENTICAL vector twin (vec_id + 100000, same embedding, same
    label) agrees on every sign bit and the label block, so the
    banded candidate join can never miss it, and cosine(v, v) = 1 >
    0.4 makes it an edge — every twin must land in its original's
    cluster deterministically (the fixture has no zero vectors, so
    no NULL-cosine degenerate; pinned by the duckdb sweep in round
    10). This is the guarantee the LSH recall trade does NOT extend
    to exact duplicates. Uses the REGISTERED plan's own pair builder
    (clusters_lsh_pairs) so a threshold or band-parameter change
    stays under this test."""
    from event_stream_for_k8s_spark.operators.dedup import (
        connected_components,
    )
    from event_stream_for_k8s_spark.plans.llm import clusters_lsh_pairs

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    twins = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = e.unionByName(twins)
    pairs = clusters_lsh_pairs(corpus)
    labels = {
        r["node"]: r["cluster_id"]
        for r in connected_components(
            pairs, nodes=corpus.select("vec_id")
        ).collect()
    }
    originals = [r["vec_id"] for r in e.select("vec_id").collect()]
    assert all(labels[v] == labels[v + 100000] for v in originals)


def test_pack_pairs_symmetric_and_saves_padding(spark):
    """llm_pack_pairs invariants: pairing is SYMMETRIC (A's mate
    names A back, same shard), a paired sequence's token count is
    the exact sum and fits the 512 budget, solo rows carry their own
    count, padding is the exact shortfall — and the fold actually
    SAVES padding versus packing every doc alone (the operator's
    reason to exist)."""
    rows = REGISTRY["llm_pack_pairs"].spark(spark, SF).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert len(by_id) == len(rows)  # one row per doc
    n_paired = 0
    for r in rows:
        if r["mate_id"] is not None:
            mate = by_id[r["mate_id"]]
            assert mate["mate_id"] == r["doc_id"]
            assert mate["shard"] == r["shard"]
            assert r["seq_tokens"] == r["n_tok"] + mate["n_tok"]
            assert r["seq_tokens"] <= 512
            n_paired += 1
        else:
            assert r["seq_tokens"] == r["n_tok"]
        assert r["padding"] == max(0, 512 - r["seq_tokens"])
    assert n_paired > 0 and n_paired % 2 == 0
    solo_pad = sum(max(0, 512 - r["n_tok"]) for r in rows)
    fold_pad = sum(
        r["padding"]
        for r in rows
        if r["mate_id"] is None or r["doc_id"] < r["mate_id"]
    )
    assert fold_pad < solo_pad


def test_bpe_train_deterministic_and_monotone(spark):
    """llm_bpe_train (VERDICT r08 #6): per-round merge choice is
    deterministic — two independent runs produce the identical merge
    table — and the winning pair_count is non-increasing across
    rounds (a merge only destroys existing adjacencies; a new pair
    (x, ab) occurs at most count(ab) <= the round's winning count, so
    no later round can beat an earlier one). The fixture corpus is
    rich enough that all 8 rounds fire."""
    run1 = REGISTRY["llm_bpe_train"].spark(spark, SF).collect()
    run2 = REGISTRY["llm_bpe_train"].spark(spark, SF).collect()
    t1 = [(r["merge_round"], r["lhs"], r["rhs"], r["pair_count"])
          for r in run1]
    assert t1 == [
        (r["merge_round"], r["lhs"], r["rhs"], r["pair_count"])
        for r in run2
    ]
    assert [r for r, *_ in t1] == list(range(8))
    counts = [n for *_, n in t1]
    assert counts == sorted(counts, reverse=True)
    # every merged symbol is novel: lhs||rhs never re-chosen
    merged = [a + b for _, a, b, _ in t1]
    assert len(set(merged)) == 8


def test_bpe_train_preserves_caller_cache(spark):
    """bpe_train must not drop a cache it didn't create (ADVICE r09):
    Spark persistence is not reference-counted, so the trainer's
    finally-block unpersist would silently evict a words relation the
    caller had already cached. With the guard, a caller-persisted
    input keeps its storage level across the call — and the trainer
    still returns the identical merge table."""
    from pyspark import StorageLevel

    from event_stream_for_k8s_spark.operators.corpus import (
        bpe_symbolize,
        bpe_train,
    )

    words = (
        spark.createDataFrame(
            [("banana",), ("bandana",), ("cabana",), ("banana",)],
            "lw string",
        )
        .select(bpe_symbolize(F.col("lw")).alias("w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        words.count()  # materialize the caller's cache
        merges = bpe_train(words, 3)
        lvl = words.storageLevel
        assert lvl.useMemory or lvl.useDisk, (
            "caller's cache was dropped by bpe_train"
        )
        fresh = spark.createDataFrame(
            [("banana",), ("bandana",), ("cabana",), ("banana",)],
            "lw string",
        ).select(bpe_symbolize(F.col("lw")).alias("w"))
        assert bpe_train(fresh, 3) == merges
    finally:
        words.unpersist()


def test_bpe_train_encode_pack_pipeline(spark):
    """The SFT-prep chain train -> per-doc encode -> pack is one
    coherent pipeline (VERDICT r09 #5): (a) llm_bpe_encode_docs'
    per-doc counts sum to llm_bpe_encode's corpus ledger exactly;
    (b) every serialized token id parses and lies in [0, 26+n_merges)
    with the id-sequence length equal to n_tok; (c) feeding the BPE
    n_tok into llm_pack_sequences' window math (shard = doc_id % 8,
    512-token bins) yields per-shard bins that start at 0 and advance
    contiguously — the packer's contract holds on BPE token counts,
    not just whitespace counts."""
    from pyspark.sql import Window

    enc = REGISTRY["llm_bpe_encode_docs"].spark(spark, SF).collect()
    ledger = REGISTRY["llm_bpe_encode"].spark(spark, SF).first()
    merges = REGISTRY["llm_bpe_train"].spark(spark, SF).collect()
    assert sum(r["n_tok"] for r in enc) == ledger["tokens_total"]
    hi = 26 + len(merges)
    for r in enc:
        ids = (
            []
            if r["token_ids"] is None
            else [int(x) for x in r["token_ids"].split(",")]
        )
        assert len(ids) == r["n_tok"]
        assert all(0 <= i < hi for i in ids)
    rows = spark.createDataFrame(
        [(r["doc_id"], r["n_tok"]) for r in enc],
        "doc_id bigint, n_tok bigint",
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        rows.withColumn("shard", F.col("doc_id") % 8)
        .withColumn("cum", F.sum("n_tok").over(w))
        .select(
            "doc_id",
            "shard",
            "n_tok",
            F.floor((F.col("cum") - F.col("n_tok")) / 512).alias(
                "start_bin"
            ),
            F.floor((F.col("cum") - 1) / 512).alias("end_bin"),
        )
        .collect()
    )
    last_end: dict[int, int] = {}
    for r in sorted(packed, key=lambda r: (r["shard"], r["doc_id"])):
        if r["n_tok"] == 0:
            continue  # zero-token docs span no bin
        assert 0 <= r["start_bin"] <= r["end_bin"]
        prev = last_end.get(r["shard"])
        if prev is None:
            assert r["start_bin"] == 0
        else:
            # next doc begins in the previous doc's last bin or the
            # immediately following one — no gap, no rewind
            assert r["start_bin"] in (prev, prev + 1)
        last_end[r["shard"]] = r["end_bin"]
    assert last_end  # the fixture packs at least one nonzero shard


def test_bpe_encode_ledger_invariants(spark):
    """llm_bpe_encode's compression ledger is internally consistent
    with llm_bpe_train: each APPLIED merge occurrence removes exactly
    one token, and greedy non-overlap can apply at most pair_count
    occurrences per round — so 0 < chars_saved <= sum(pair_count).
    The live vocab keeps every base character still in use plus at
    most the 8 merged symbols."""
    enc = REGISTRY["llm_bpe_encode"].spark(spark, SF).first()
    merges = REGISTRY["llm_bpe_train"].spark(spark, SF).collect()
    assert enc["chars_total"] - enc["tokens_total"] == enc["chars_saved"]
    assert 0 < enc["chars_saved"] <= sum(r["pair_count"] for r in merges)
    assert enc["vocab_size"] <= 26 + len(merges)
    assert enc["n_words"] > 0


def test_sft_pipeline_end_to_end(spark):
    """llm_sft_pipeline chains real fixture conversations end-to-end
    (VERDICT r10 #5): for every document, the registered
    llm_chat_format rendering is re-tokenized in pure Python to bound
    the pipeline's trained-tokenizer count — each trainable word
    (lowercase [a-z]+, len >= 2, the trainer's gate) encodes to
    between 1 token and its character count, so W <= n_tok <= C doc
    by doc. On top of that, the full pack_pairs contract: one row per
    doc, symmetric mates within a shard, exact pair sums within the
    512 budget, exact padding, and the fold saving padding vs packing
    every example alone."""
    import re

    rendered = {
        r["doc_id"]: r["rendered"]
        for r in REGISTRY["llm_chat_format"].spark(spark, SF).collect()
    }
    word_re = re.compile(r"^[a-z]+$")
    bounds = {}
    for doc_id, text in rendered.items():
        words = [
            w
            for w in (t.lower() for t in text.split(" "))
            if len(w) >= 2 and word_re.match(w)
        ]
        bounds[doc_id] = (len(words), sum(len(w) for w in words))
    rows = REGISTRY["llm_sft_pipeline"].spark(spark, SF).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert set(by_id) == set(rendered)  # one row per conversation
    assert len(by_id) == len(rows)
    n_paired = 0
    for r in rows:
        w, c = bounds[r["doc_id"]]
        # static template words ("you", "are", "helpful") keep every
        # rendered example trainable
        assert w >= 3
        assert w <= r["n_tok"] <= c
        assert r["shard"] == r["doc_id"] % 8
        if r["mate_id"] is not None:
            mate = by_id[r["mate_id"]]
            assert mate["mate_id"] == r["doc_id"]
            assert mate["shard"] == r["shard"]
            assert r["seq_tokens"] == r["n_tok"] + mate["n_tok"]
            assert r["seq_tokens"] <= 512
            n_paired += 1
        else:
            assert r["seq_tokens"] == r["n_tok"]
        assert r["padding"] == max(0, 512 - r["seq_tokens"])
    assert n_paired > 0 and n_paired % 2 == 0
    solo_pad = sum(max(0, 512 - r["n_tok"]) for r in rows)
    fold_pad = sum(
        r["padding"]
        for r in rows
        if r["mate_id"] is None or r["doc_id"] < r["mate_id"]
    )
    assert fold_pad < solo_pad


def test_dedup_excise_fixture_invariants(spark):
    """llm_dedup_excise on the real corpus: every doc keeps a row;
    clean docs pass through VERBATIM (cleaned_text == text); excised
    docs lose exactly n_excised tokens and at least one >= 50-token
    duplicated run fires on the fixture (it plants shared spans); an
    excised doc's removed text cannot exceed its token count."""
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    rows = REGISTRY["llm_dedup_excise"].spark(spark, SF).collect()
    assert {r["doc_id"] for r in rows} == set(docs)
    n_fired = 0
    for r in rows:
        tk = docs[r["doc_id"]].split(" ")
        assert r["n_tokens"] == len(tk)
        assert 0 <= r["n_excised"] <= r["n_tokens"]
        if r["n_excised"] == 0:
            assert r["cleaned_text"] == docs[r["doc_id"]]
        else:
            n_fired += 1
            kept = (
                []
                if r["cleaned_text"] == "" and r["n_excised"] == len(tk)
                else r["cleaned_text"].split(" ")
            )
            assert len(kept) == r["n_tokens"] - r["n_excised"]
            # kept tokens are a subsequence of the original
            it = iter(tk)
            assert all(any(x == y for y in it) for x in kept)
            # an excision is at least the minimum span
            assert r["n_excised"] >= 50
    assert n_fired > 0


def test_train_order_is_deterministic_permutation(spark):
    """llm_train_order: (shard, pos) is a dense per-shard enumeration
    (pos 0..n-1, no gaps or ties), every doc appears exactly once,
    two independent runs agree exactly (no rand() anywhere), and the
    hash order actually scrambles — the within-shard sequence is not
    simply doc_id-ascending."""
    rows = REGISTRY["llm_train_order"].spark(spark, SF).collect()
    again = REGISTRY["llm_train_order"].spark(spark, SF).collect()
    key = lambda r: (r["doc_id"], r["shard"], r["pos"])  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, again))
    by_shard: dict[int, list] = {}
    seen = set()
    for r in rows:
        assert r["doc_id"] not in seen
        seen.add(r["doc_id"])
        by_shard.setdefault(r["shard"], []).append(r)
    scrambled = 0
    for members in by_shard.values():
        members.sort(key=lambda r: r["pos"])
        assert [r["pos"] for r in members] == list(range(len(members)))
        ids = [r["doc_id"] for r in members]
        if ids != sorted(ids):
            scrambled += 1
    assert scrambled > 0


def test_sft_loss_mask_invariants(spark):
    """llm_sft_loss_mask: every doc keeps a row; n_tok is the exact
    segment sum; loss_fraction is the rounded completion share; and
    the structural inequality n_prompt_tok >= n_completion_tok + 3 —
    the prompt's first-12 words CONTAIN the completion's first-5 as a
    prefix and a word's token count under one merge table is the same
    wherever it appears, so the prompt always costs at least the
    completion plus the three static template words (you/are/helpful,
    >= 1 token each). Hence the loss share never reaches 0.5."""
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    rows = REGISTRY["llm_sft_loss_mask"].spark(spark, SF).collect()
    assert len(rows) == n_docs
    assert any(r["n_completion_tok"] > 0 for r in rows)
    for r in rows:
        assert r["n_tok"] == r["n_prompt_tok"] + r["n_completion_tok"]
        assert r["n_prompt_tok"] >= r["n_completion_tok"] + 3
        assert r["loss_fraction"] == round(
            r["n_completion_tok"] / r["n_tok"], 6
        )
        assert r["loss_fraction"] < 0.5


def test_knn_ivfpq_recall_and_contract(spark):
    """llm_knn_ivfpq's production form: aggregate recall vs brute
    holds the envelope floor (0.3 measured exactly at this fixture —
    4/16-cell pruning on a 500-vector corpus is the aggressive end;
    0.375 at sf0.1 — both deterministic, seeded quantizers), and the
    per-query contract holds: exactly k rows ranked 1..k, sims
    non-increasing, never a self-match."""
    brute = {
        (r["qid"], r["nid"])
        for r in REGISTRY["llm_knn_brute"].spark(spark, SF).collect()
    }
    from event_stream_for_k8s_spark.plans.llm import knn_ivfpq_results

    rows = knn_ivfpq_results(spark, SF).collect()
    got = {(r["qid"], r["nid"]) for r in rows}
    recall = len(brute & got) / len(brute)
    assert recall >= 0.3, f"IVF-PQ recall too low: {recall}"
    by_q: dict = {}
    for r in rows:
        assert r["qid"] != r["nid"]
        by_q.setdefault(r["qid"], []).append(r)
    for members in by_q.values():
        members.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in members] == list(
            range(1, len(members) + 1)
        )
        sims = [r["sim"] for r in members]
        assert sims == sorted(sims, reverse=True)


def test_knn_ivfpq_residual_recall(spark):
    """llm_knn_ivfpq_residual (VERDICT r11 #5): at EQUAL bytes (same
    m x n_codes budget) residual coding must hold the raw tier's
    recall floor and never fall below the raw mode on the fixture —
    the residual target (within-cell spread) is a subset of the raw
    target's spread, so the same codebook budget buys finer codes."""
    from event_stream_for_k8s_spark.plans.llm import (
        knn_ivfpq_residual_results,
        knn_ivfpq_results,
    )

    brute = {
        (r["qid"], r["nid"])
        for r in REGISTRY["llm_knn_brute"].spark(spark, SF).collect()
    }
    raw = {
        (r["qid"], r["nid"])
        for r in knn_ivfpq_results(spark, SF).collect()
    }
    rows = knn_ivfpq_residual_results(spark, SF).collect()
    res = {(r["qid"], r["nid"]) for r in rows}
    recall_res = len(brute & res) / len(brute)
    recall_raw = len(brute & raw) / len(brute)
    assert recall_res >= 0.3, f"residual recall under floor: {recall_res}"
    assert recall_res >= recall_raw, (recall_res, recall_raw)
    by_q: dict = {}
    for r in rows:
        assert r["qid"] != r["nid"]
        by_q.setdefault(r["qid"], []).append(r)
    for members in by_q.values():
        members.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in members] == list(
            range(1, len(members) + 1)
        )


def test_residual_coding_cuts_reconstruction_error():
    """The reason by_residual is the FAISS default, pinned at the
    CODEC level where it is deterministic: on a clustered corpus,
    codes that quantize v - centroid(cell(v)) only have to model the
    WITHIN-cell spread, so at equal bytes (same m x n_codes budget)
    the reconstruction error — which bounds the ADC dot-product error
    via |dot(q,v) - dot(q,v_hat)| <= ||q||*||v - v_hat|| — must drop
    versus raw coding, and by a wide margin when between-cluster
    spread dominates. (End-to-end recall on the real fixture is
    pinned separately by test_knn_ivfpq_residual_recall; a recall
    differential on a synthetic corpus is NOT pinned — with only
    q*k=40 pairs it is seed-noise, as a geometry sweep showed.)"""
    import numpy as np

    from event_stream_for_k8s_spark.operators.similarity import _lloyd

    rng = np.random.RandomState(7)
    dim, n_clusters, per, m, n_codes = 16, 8, 80, 4, 8
    sub = dim // m
    centers = rng.randn(n_clusters, dim) * 20.0
    x = np.repeat(centers, per, axis=0) + rng.randn(
        n_clusters * per, dim
    ) * 0.5
    # coarse assignment: nearest center (what the IVF stage does)
    cell = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(-1).argmin(1)

    def recon_err(train, data):
        err = 0.0
        for j in range(m):
            s = slice(j * sub, (j + 1) * sub)
            book = _lloyd(train[:, s], n_codes, seed=42 + j)
            codes = (
                ((data[:, s][:, None, :] - book[None, :, :]) ** 2)
                .sum(-1)
                .argmin(1)
            )
            err += ((data[:, s] - book[codes]) ** 2).sum()
        return err

    raw_err = recon_err(x, x)
    resid = x - centers[cell]
    res_err = recon_err(resid, resid)  # v_hat = centroid + code word
    assert res_err < raw_err * 0.2, (res_err, raw_err)


def test_hard_negatives_band_and_label_contract(spark):
    """llm_hard_negatives: every mined negative carries a label
    DIFFERENT from its query's, ranks are contiguous 1..k with sims
    non-increasing, pos_sim really is the max same-label similarity
    (recomputed independently here via the brute kernel), and the
    semi_hard flag marks exactly the FaceNet band
    pos_sim - 0.2 <= sim < pos_sim."""
    from event_stream_for_k8s_spark.functions.vectors import cosine

    rows = REGISTRY["llm_hard_negatives"].spark(spark, SF).collect()
    assert rows, "fixture should mine at least one negative"
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    # independent pos_sim: max rounded cosine over same-label, id-excluded
    q = e.filter((F.col("vec_id") % 250 == 0) & (F.col("vec_id") < 25_000)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    ps = {
        r["qid"]: r["p"]
        for r in e.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("qid"))
            & (F.col("label") == F.col("qlabel"))
        )
        .groupBy("qid")
        .agg(
            F.max(
                F.round(cosine(F.col("qvec"), F.col("embedding")), 6)
            ).alias("p")
        )
        .collect()
    }
    by_q: dict = {}
    for r in rows:
        assert labels[r["nid"]] != labels[r["qid"]], "negative shares label"
        assert r["pos_sim"] == ps[r["qid"]]
        want = 1 if (r["pos_sim"] - 0.2 <= r["sim"] < r["pos_sim"]) else 0
        assert r["semi_hard"] == want, (r["sim"], r["pos_sim"], r["semi_hard"])
        by_q.setdefault(r["qid"], []).append(r)
    for members in by_q.values():
        members.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in members] == list(range(1, len(members) + 1))
        sims = [r["sim"] for r in members]
        assert sims == sorted(sims, reverse=True)


def test_hard_negatives_ann_recall_and_contract(spark):
    """hard_negatives_ann_results (production form): negatives mined
    through the IVF-PQ index (offline budget: n_probe=8, 3x over-fetch)
    must overlap the exact mining's sets at >= 0.5 (0.6 measured; the
    probe count is the recall lever — 4 cells reads 0.2 FLAT in
    over-fetch, 12 reads 0.9), never contain a same-label vector, and
    carry the same pos_sim as the exact form (the positive side is
    exact in both)."""
    from event_stream_for_k8s_spark.plans.llm import hard_negatives_ann_results

    exact_rows = REGISTRY["llm_hard_negatives"].spark(spark, SF).collect()
    exact = {(r["qid"], r["nid"]) for r in exact_rows}
    pos_by_q = {r["qid"]: r["pos_sim"] for r in exact_rows}
    ann_rows = hard_negatives_ann_results(spark, SF).collect()
    assert ann_rows
    got = {(r["qid"], r["nid"]) for r in ann_rows}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.5, f"ANN hard-negative recall too low: {recall}"
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    for r in ann_rows:
        assert labels[r["nid"]] != labels[r["qid"]]
        assert r["pos_sim"] == pos_by_q[r["qid"]]
        want = 1 if (r["pos_sim"] - 0.2 <= r["sim"] < r["pos_sim"]) else 0
        assert r["semi_hard"] == want


def test_dhash_matches_pure_python_reference():
    """dhash64's numpy gathers == the textbook per-bit loop, across
    image shapes (the floor-index resample must agree cell for cell —
    an off-by-one in either axis flips gradient bits)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from event_stream_for_k8s_spark.functions.multimodal import dhash64

    def reference(img):
        h, w = img.shape[0], img.shape[1]
        gray = [
            [sum(int(c) for c in img[i][j]) // 3 for j in range(w)]
            for i in range(h)
        ]
        sig = 0
        for i in range(8):
            for j in range(8):
                a = gray[(i * h) // 8][(j * w) // 9]
                b = gray[(i * h) // 8][((j + 1) * w) // 9]
                if a > b:
                    sig |= 1 << (i * 8 + j)
        return sig - (1 << 64) if sig >= 1 << 63 else sig

    @given(
        h=st.integers(min_value=1, max_value=24),
        w=st.integers(min_value=1, max_value=24),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    @settings(max_examples=40, deadline=None)
    def check(h, w, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert dhash64(img) == reference(img)

    check()


def test_dhash_single_pixel_locality():
    """A sampled pixel feeds at most 2 of the 64 gradient comparisons
    (its column's left and right neighbors in the 9-wide gather), so a
    single-pixel edit moves the hash by Hamming <= 2 — the property
    the banded near-dup join relies on for perturbed crops."""
    import numpy as np

    from event_stream_for_k8s_spark.functions.multimodal import dhash64

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    base = dhash64(img)
    for _ in range(50):
        i, j = rng.integers(0, 16, size=2)
        mod = img.copy()
        mod[i, j] = rng.integers(0, 256, size=3)
        d = bin((dhash64(mod) ^ base) & ((1 << 64) - 1)).count("1")
        assert d <= 2


def test_dhash_media_parses_real_ppm(spark):
    """dhash_media genuinely decodes the PPM container (comments,
    arbitrary sizes) and matches dhash64 on the raster."""
    import numpy as np

    from event_stream_for_k8s_spark.functions.multimodal import (
        dhash64,
        dhash_media,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(10, 13, 3), dtype=np.uint8)
    ppm = b"P6\n# crop fixture\n13 10\n255\n" + img.tobytes()
    df = spark.createDataFrame(
        [(1, bytearray(ppm))], "doc_id long, payload binary"
    )
    rows = dhash_media(df).collect()
    assert len(rows) == 1
    assert rows[0]["phash"] == dhash64(img)


def test_mm_dedup_phash_planted_pairs(spark):
    """The registered near-dup query recovers planted byte-identical
    crops at Hamming 0 (unless their band bucket overflows the
    documented cap — the query's contract, mirroring the audio twin
    per ADVICE r12), and the 3-char perturbation lands within the
    locality bound (<= 1 differing bit: one pixel replaced => at most
    the one gradient comparison it feeds on the sampled row)."""
    from event_stream_for_k8s_spark.plans.registry import REGISTRY

    d = spark.read.parquet(f"{SF}/documents.parquet")
    planted = [
        r["doc_id"]
        for r in d.filter("doc_id % 50 = 0").select("doc_id").collect()
    ]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in REGISTRY["llm_mm_dedup_phash"]
        .spark(spark, SF)
        .collect()
    }
    assert planted
    found = 0
    for did in planted:
        h = pairs.get((did, did + 1_000_000))
        if h is not None:
            assert h == 0
            found += 1
        perturbed = pairs.get((did, did + 2_000_000))
        if perturbed is not None:
            assert perturbed <= 1
    # dHash64's 4x16-bit bands collide far less than the audio tier's
    # 23-bit space, so expect HIGH recall — but a fixture/SF change
    # that overflows a band bucket is cap behavior, not a bug
    assert found >= len(planted) * 0.9


def test_mix_epochs_closed_form_matches_iterative_fixed_point():
    """llm_mix_epochs computes capped proportional water-filling in
    ONE sorted scan (capped iff pro-rata share of the budget left
    after all lower-cap/weight-ratio sources' caps meets the cap).
    Pin that closed form to the textbook iterative fixed point —
    repeatedly cap any source whose proportional share of the
    remaining pool meets its cap — under exact rational arithmetic."""
    from fractions import Fraction

    from hypothesis import given, settings
    from hypothesis import strategies as st

    def iterative(caps, ws, budget):
        n = len(caps)
        alloc = [None] * n
        live = set(range(n))
        rem = Fraction(budget)
        while True:
            wsum = sum(ws[i] for i in live)
            newly = [
                i
                for i in live
                if wsum and Fraction(rem * ws[i], wsum) >= caps[i]
            ]
            if not newly:
                break
            for i in newly:
                alloc[i] = caps[i]
                rem -= caps[i]
                live.remove(i)
        wsum = sum(ws[i] for i in live)
        for i in live:
            alloc[i] = int(Fraction(rem * ws[i], wsum)) if wsum else 0
        return alloc

    def closed(caps, ws, budget):
        # the scan the Spark plan and the oracle both implement
        n = len(caps)
        order = sorted(
            range(n), key=lambda i: (Fraction(caps[i], ws[i]), i)
        )
        wsum = sum(ws)
        cumcap = cumw = kcap = kw = 0
        alloc = [None] * n
        for j in order:
            if ws[j] * (budget - cumcap) >= caps[j] * (wsum - cumw):
                alloc[j] = caps[j]
                kcap += caps[j]
                kw += ws[j]
            cumcap += caps[j]
            cumw += ws[j]
        for j in range(n):
            if alloc[j] is None:
                denom = wsum - kw
                alloc[j] = (
                    ((budget - kcap) * ws[j]) // denom if denom else 0
                )
        return alloc

    @given(
        caps=st.lists(
            st.integers(min_value=0, max_value=200),
            min_size=1,
            max_size=8,
        ),
        ws=st.data(),
        frac=st.integers(min_value=0, max_value=130),
    )
    @settings(max_examples=200, deadline=None)
    def check(caps, ws, frac):
        weights = ws.draw(
            st.lists(
                st.integers(min_value=1, max_value=60),
                min_size=len(caps),
                max_size=len(caps),
            )
        )
        budget = (sum(caps) * frac) // 100
        assert iterative(caps, weights, budget) == closed(
            caps, weights, budget
        )

    check()


def test_mix_epochs_fixture_invariants(spark):
    """The registered allocation is feasible and tight on the fixture:
    caps respected, budget exhausted up to per-source floor slack
    (whether any source caps at a given SF depends on its token
    skew — the capping dynamics are pinned on a crafted corpus
    below)."""
    from event_stream_for_k8s_spark.plans.registry import REGISTRY

    rows = REGISTRY["llm_mix_epochs"].spark(spark, SF).collect()
    assert rows
    ta = sum(r["avail"] for r in rows)
    budget = (ta * 3) // 2
    total = sum(r["alloc_tokens"] for r in rows)
    assert total <= budget
    # floors lose < 1 token per uncapped source
    assert budget - total < len(rows)
    for r in rows:
        assert r["cap_tokens"] == (r["avail"] * 7) // 4
        assert r["alloc_tokens"] <= r["cap_tokens"]
        if r["capped"]:
            assert r["alloc_tokens"] == r["cap_tokens"]
        assert r["epochs"] == round(
            r["alloc_tokens"] / r["avail"], 6
        )


def test_mix_epochs_caps_short_source_on_skewed_corpus(spark, tmp_path):
    """A doc-uniform corpus with one token-starved source MUST pin
    that source at exactly 7/4 epochs and water-fill its freed budget
    to the token-rich sources — the data-constrained behavior the
    operator exists for."""
    import os

    from tests.conftest import SF_SMOKE
    from event_stream_for_k8s_spark.catalog import TABLES
    from event_stream_for_k8s_spark.plans import REGISTRY

    sf = str(tmp_path / "skew")
    os.makedirs(sf)
    for t in TABLES:
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    os.unlink(f"{sf}/documents.parquet")
    # 3 sources x 4 docs (uniform weights); 'tiny' has 10-token docs,
    # the others 100-token docs => tiny's uniform share wants >> 7/4
    # of its 40 available tokens
    rows = []
    for s, ntok in (("tiny", 10), ("big_a", 100), ("big_b", 100)):
        for i in range(4):
            rows.append(
                (
                    len(rows),
                    " ".join(f"w{j}" for j in range(ntok)),
                    "en",
                    s,
                    ntok,
                )
            )
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).toPandas().to_parquet(f"{sf}/documents.parquet", index=False)
    got = {
        r["source"]: r
        for r in REGISTRY["llm_mix_epochs"].spark(spark, sf).collect()
    }
    assert got["tiny"]["capped"]
    assert got["tiny"]["alloc_tokens"] == (40 * 7) // 4  # = 70
    assert got["tiny"]["epochs"] == 1.75
    # budget = 1.5 * 840 = 1260; remaining 1190 splits evenly between
    # the two equal-weight big sources, under their 1400-token caps
    for s in ("big_a", "big_b"):
        assert not got[s]["capped"]
        assert got[s]["alloc_tokens"] == 595
        assert got[s]["epochs"] == round(595 / 400, 6)


def test_dedup_chunks_content_defined_stability(spark, tmp_path):
    """The CDC property that motivates the operator: inserting ONE
    token into a long doc leaves most chunks byte-identical (only the
    edited chunk's signature changes), because boundaries derive from
    CONTENT. A fixed-window scheme would shift every window after the
    edit. Also pins: an unrelated doc shares zero chunks."""
    import os

    from tests.conftest import SF_SMOKE
    from event_stream_for_k8s_spark.catalog import TABLES
    from event_stream_for_k8s_spark.plans import REGISTRY

    sf = str(tmp_path / "cdc")
    os.makedirs(sf)
    for t in TABLES:
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    os.unlink(f"{sf}/documents.parquet")
    base = [f"tok{i}alpha" for i in range(120)]
    edited = base[:60] + ["inserted"] + base[60:]
    other = [f"zz{i}beta" for i in range(120)]
    rows = [
        (0, " ".join(base), "en", "s", len(" ".join(base))),
        (1, " ".join(edited), "en", "s", len(" ".join(edited))),
        (2, " ".join(other), "en", "s", len(" ".join(other))),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).toPandas().to_parquet(f"{sf}/documents.parquet", index=False)

    got = {
        r["doc_id"]: r
        for r in REGISTRY["llm_dedup_chunks"].spark(spark, sf).collect()
    }
    assert got[2]["n_dup_chunks"] == 0  # unrelated: nothing shared
    for did in (0, 1):
        assert got[did]["n_chunks"] >= 3  # boundaries actually fire
        # at most 2 chunks differ (the edited chunk, split or merged)
        assert got[did]["n_dup_chunks"] >= got[did]["n_chunks"] - 2
        assert got[did]["n_dup_chunks"] < got[did]["n_chunks"]


def test_mm_pack_interleaved_recount(spark):
    """llm_mm_pack_interleaved's bins and split counts against an
    independent per-shard Python recount (plain cumsum + per-image
    boundary check), plus branch coverage: the fixture must contain
    split and non-split image blocks and multi-bin docs."""
    from event_stream_for_k8s_spark.plans.registry import REGISTRY

    rows = sorted(
        REGISTRY["llm_mm_pack_interleaved"].spark(spark, SF).collect(),
        key=lambda r: (r["shard"], r["doc_id"]),
    )
    assert rows
    cum: dict = {}
    for r in rows:
        assert r["mm_cost"] == r["n_tok"] + 64 * r["n_images"]
        start = cum.get(r["shard"], 0)
        end = start + r["mm_cost"]
        cum[r["shard"]] = end
        assert r["start_bin"] == start // 2048
        assert r["end_bin"] == (end - 1) // 2048
        n_split = sum(
            1
            for i in range(r["n_images"])
            if (start + r["n_tok"] + 64 * i) // 2048
            != (start + r["n_tok"] + 64 * i + 63) // 2048
        )
        assert r["n_split_images"] == n_split
    assert any(r["n_split_images"] > 0 for r in rows)
    assert any(
        r["n_images"] > 0 and r["n_split_images"] == 0 for r in rows
    )
    assert any(r["end_bin"] > r["start_bin"] for r in rows)


def test_mix_epochs_zero_rounded_weight_clamps_to_floor(spark, tmp_path):
    """ADVICE r12: a source whose doc share is below ~4e-5 rounds its
    6-digit temperature weight to 0; unclamped, cap/w6s is infinite
    and the closed-form scan marks it CAPPED at its full 7/4-epoch
    cap — but the water-filling fixed point gives it only its
    (near-zero) pro-rata share. Both engines now clamp w6s to >= 1;
    this corpus (1 doc vs 30000) pins the clamped behavior: the dust
    source is NOT capped and gets its floor allocation, not the cap."""
    import os

    from tests.conftest import SF_SMOKE
    from event_stream_for_k8s_spark.catalog import TABLES
    from event_stream_for_k8s_spark.plans import REGISTRY
    from event_stream_for_k8s_spark.plans.llm import _MIX_INV_T

    sf = str(tmp_path / "dust")
    os.makedirs(sf)
    for t in TABLES:
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    os.unlink(f"{sf}/documents.parquet")
    n_bulk = 30_000
    spark.sql(
        f"""
        SELECT id AS doc_id, 'a b c d e' AS text, 'en' AS lang,
               CASE WHEN id = 0 THEN 'dust' ELSE 'bulk' END AS source,
               CAST(9 AS long) AS n_chars
        FROM range({n_bulk + 1})
        """
    ).toPandas().to_parquet(f"{sf}/documents.parquet", index=False)

    got = {
        r["source"]: r
        for r in REGISTRY["llm_mix_epochs"].spark(spark, sf).collect()
    }
    # dust's unclamped weight would be round((1/30001)^(1/0.7)*1e6)=0
    assert round((1 / (n_bulk + 1)) ** _MIX_INV_T * 1e6) == 0
    w_bulk = round((n_bulk / (n_bulk + 1)) ** _MIX_INV_T * 1e6)
    wsum = w_bulk + 1  # dust clamped to 1
    avail = 5 * (n_bulk + 1)
    budget = avail * 3 // 2
    # neither source caps: dust gets its integer pro-rata floor (0),
    # NOT its 8-token cap; bulk gets the rest of the pool pro-rata
    assert not got["dust"]["capped"]
    assert got["dust"]["alloc_tokens"] == budget * 1 // wsum == 0
    assert got["dust"]["epochs"] == 0.0
    assert not got["bulk"]["capped"]
    assert got["bulk"]["alloc_tokens"] == budget * w_bulk // wsum


def test_audio_fp_invariants():
    """The energy-contour fingerprint keeps only delta SIGNS, so it is
    invariant under uniform positive volume scaling and under polarity
    flips (energy = sum |s|); partial tail frames contribute their own
    energy bucket."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from event_stream_for_k8s_spark.functions.multimodal import audio_fp

    @given(
        samples=st.lists(
            st.integers(min_value=-16000, max_value=16000),
            min_size=0,
            max_size=300,
        ),
        gain=st.integers(min_value=1, max_value=2),
    )
    @settings(max_examples=60, deadline=None)
    def check(samples, gain):
        base = audio_fp(samples, frame=32)
        assert audio_fp([s * gain for s in samples], frame=32) == base
        assert audio_fp([-s for s in samples], frame=32) == base
        n_frames = (len(samples) + 31) // 32
        assert 0 <= base < (1 << max(n_frames - 1, 0)) + 1

    check()


def test_signature_batch_forms_match_scalar():
    """The whole-Arrow-batch vectorized signatures (dhash64_batch /
    audio_fp_batch — the VERDICT r12 #1 constant-killers) are
    bit-identical to the scalar forms, including sign-bit images
    (two's-complement wrap) and partial tail frames."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from event_stream_for_k8s_spark.functions.multimodal import (
        audio_fp,
        audio_fp_batch,
        dhash64,
        dhash64_batch,
    )

    rng = np.random.default_rng(13)
    imgs = rng.integers(0, 256, size=(40, 16, 16, 3), dtype=np.uint8)
    # force both gradient directions in one image so some batch rows
    # exercise the sign bit (bit 63 set -> negative LongType)
    imgs[0, :, :, :] = 255
    imgs[0, :, ::2, :] = 0
    batch = dhash64_batch(imgs)
    for k in range(len(imgs)):
        assert int(batch[k]) == dhash64(imgs[k])
    assert (batch < 0).any()  # the wrap path is actually exercised

    @given(
        n=st.integers(min_value=1, max_value=8),
        length=st.integers(min_value=0, max_value=200),
        seed=st.integers(min_value=0, max_value=1000),
    )
    @settings(max_examples=40, deadline=None)
    def check(n, length, seed):
        r = np.random.default_rng(seed)
        mat = r.integers(-16000, 16000, size=(n, length), dtype=np.int64)
        got = audio_fp_batch(mat, frame=32)
        for k in range(n):
            assert int(got[k]) == audio_fp(mat[k].tolist(), frame=32)

    check()

    with np.testing.assert_raises(ValueError):
        audio_fp_batch(np.zeros((2, 65 * 32), dtype=np.int64), frame=32)


def test_audio_fp_media_parses_real_wav(spark):
    """audio_fp_media genuinely chunk-walks the RIFF container and
    fingerprints the PCM16 samples it finds there."""
    import struct as st

    from event_stream_for_k8s_spark.functions.multimodal import (
        audio_fp,
        audio_fp_media,
    )

    samples = [((i * 37) % 256 - 128) * 64 for i in range(100)]
    data = st.pack(f"<{len(samples)}h", *samples)
    fmt = st.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (
        b"RIFF"
        + st.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + st.pack("<I", len(fmt))
        + fmt
        + b"data"
        + st.pack("<I", len(data))
        + data
    )
    df = spark.createDataFrame(
        [(5, bytearray(wav))], "doc_id long, payload binary"
    )
    rows = audio_fp_media(df).collect()
    assert len(rows) == 1
    assert rows[0]["afp"] == audio_fp(samples, frame=32)


def test_mm_audio_fp_group_counts_consistent(spark):
    """group_n really is the exact-fingerprint group size on the
    registered output."""
    from collections import Counter

    from event_stream_for_k8s_spark.plans.registry import REGISTRY

    rows = REGISTRY["llm_mm_audio_fp"].spark(spark, SF).collect()
    assert rows
    sizes = Counter(r["afp"] for r in rows)
    for r in rows:
        assert r["group_n"] == sizes[r["afp"]]


def test_length_batches_binning_boundary_exact():
    """1 << ceil(log2(n)) must be the smallest power of two >= n for
    every realistic length — the IEEE-exactness claim both engines'
    binning relies on at bucket boundaries."""
    import math

    for n in range(1, 8193):
        bucket = 1 << math.ceil(math.log2(n))
        assert bucket >= n and bucket < 2 * n or (n == 1 and bucket == 1)


def test_length_batches_invariants(spark):
    """Batches are uniform-footprint and shard-local: every batch
    holds docs of ONE (bucket, shard), at most cap = max(1,
    4096 div bucket) docs, batch ids are contiguous from 0 within the
    (bucket, shard), only the last batch may be short, and padding
    per doc is < its own length (power-of-2 binning's 2x bound)."""
    from collections import defaultdict

    from event_stream_for_k8s_spark.plans.registry import REGISTRY

    rows = REGISTRY["llm_length_batches"].spark(spark, SF).collect()
    assert rows
    groups = defaultdict(list)
    for r in rows:
        assert r["bucket"] >= r["ntok"] and r["bucket"] < 2 * max(
            r["ntok"], 1
        )
        assert r["pad"] == r["bucket"] - r["ntok"]
        groups[(r["bucket"], r["shard"])].append(r)
    assert len({(r["bucket"], r["shard"], r["batch_id"]) for r in rows}) > 1
    for (bucket, _shard), g in groups.items():
        cap = max(1, 4096 // bucket)
        by_batch = defaultdict(int)
        for r in g:
            by_batch[r["batch_id"]] += 1
        ids = sorted(by_batch)
        assert ids == list(range(len(ids)))
        for bid in ids:
            assert by_batch[bid] <= cap
            if bid < ids[-1]:
                assert by_batch[bid] == cap


def test_mm_pipeline_matches_standalone_signatures(spark):
    """The one-pass capstone computes EXACTLY the signatures the
    per-modality container round-trips produce: phash == llm_mm_phash
    (PPM encode -> parse -> dHash), afp == llm_mm_audio_fp (WAV
    encode -> chunk walk -> fingerprint), and n_scene_cuts == the
    scene_cut count of llm_mm_video_scenes (Y4M encode -> parse ->
    per-frame dHash -> lag) for every doc — the composition skips
    the containers, not the math."""
    from collections import Counter

    from event_stream_for_k8s_spark.plans.registry import REGISTRY

    pipe = {
        r["doc_id"]: (
            r["phash"],
            r["afp"],
            r["n_scene_cuts"],
            r["n_copies"],
            r["is_canonical"],
        )
        for r in REGISTRY["llm_mm_pipeline"].spark(spark, SF).collect()
    }
    ph = {
        r["doc_id"]: r["phash"]
        for r in REGISTRY["llm_mm_phash"].spark(spark, SF).collect()
    }
    af = {
        r["doc_id"]: r["afp"]
        for r in REGISTRY["llm_mm_audio_fp"].spark(spark, SF).collect()
    }
    vc = Counter()
    for r in REGISTRY["llm_mm_video_scenes"].spark(spark, SF).collect():
        vc[r["doc_id"]] += bool(r["scene_cut"])
    assert set(pipe) == set(ph) == set(af) == set(vc)
    for did, (phash, afp, cuts, n_copies, canon) in pipe.items():
        assert phash == ph[did]
        assert afp == af[did]
        assert cuts == vc[did]
        assert n_copies >= 1
    # exactly one canonical per phash group
    from collections import defaultdict

    canons = defaultdict(int)
    for did, (phash, _afp, _cuts, _n, canon) in pipe.items():
        canons[phash] += bool(canon)
    assert all(c == 1 for c in canons.values())


def test_mm_dedup_audio_planted_pairs(spark):
    """The audio near-dup query recovers every planted byte-identical
    clip at Hamming 0 (unless its band bucket overflows the cap);
    perturbed clips land within the one-frame locality bound."""
    from event_stream_for_k8s_spark.plans.registry import REGISTRY

    d = spark.read.parquet(f"{SF}/documents.parquet")
    planted = [
        r["doc_id"]
        for r in d.filter("doc_id % 50 = 0").select("doc_id").collect()
    ]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in REGISTRY["llm_mm_dedup_audio"]
        .spark(spark, SF)
        .collect()
    }
    assert planted
    found = 0
    for did in planted:
        h = pairs.get((did, did + 1_000_000))
        if h is not None:
            assert h == 0
            found += 1
        perturbed = pairs.get((did, did + 2_000_000))
        if perturbed is not None:
            assert perturbed <= 1
    # the 23-bit space collides more than dHash64, so some buckets
    # may overflow the cap — but most planted pairs must survive
    assert found >= len(planted) * 0.5


def test_afp_bands_knob_matches_oracle_at_nondefault():
    """SPARK_GRAFT_AFP_BANDS mirrors the image tier's layout knob
    (VERDICT r12 #6): at bands=3 (ceil(23/3)=8-bit bands, derived
    pigeonhole threshold 2) the Spark plan, the dedup oracle AND the
    capped-bucket diagnostic must all still hash-match. Subprocess
    because the knob binds at registry import."""
    import os
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parents[1]
    env = dict(os.environ, SPARK_GRAFT_AFP_BANDS="3")
    proc = subprocess.run(
        [sys.executable, "tools/selfcheck.py", "llm_mm_dedup_audio",
         "llm_mm_dedup_audio_capped", "--sf", "/root/testdata/sf0.001"],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "2/2 ok" in proc.stdout


def test_audio_capped_diagnostic_counts(spark):
    """The capped-bucket diagnostic really counts over-cap buckets:
    totals reconcile against a direct recount of the banded explode
    on the same planted corpus."""
    from event_stream_for_k8s_spark.plans.llm import AFP_BANDS, AFP_BITS
    from event_stream_for_k8s_spark.plans.registry import REGISTRY

    rows = (
        REGISTRY["llm_mm_dedup_audio_capped"].spark(spark, SF).collect()
    )
    assert {r["band_idx"] for r in rows} == set(range(AFP_BANDS))
    for r in rows:
        assert 0 <= r["capped_buckets"] <= r["n_buckets"]
        assert r["n_buckets"] <= 1 << AFP_BITS
        # every capped bucket holds > 64 docs by definition
        assert r["capped_docs"] >= 65 * r["capped_buckets"]


def test_phash_bands_knob_matches_oracle_at_nondefault():
    """SPARK_GRAFT_PHASH_BANDS is a real layout knob: at bands=8
    (8-bit bands, threshold 7 — a much wider recall radius with far
    smaller bucket space) the Spark plan must still hash-match the
    oracle, which interpolates the same constants. Subprocess because
    the knob binds at registry import."""
    import os
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parents[1]
    env = dict(os.environ, SPARK_GRAFT_PHASH_BANDS="8")
    proc = subprocess.run(
        [sys.executable, "tools/selfcheck.py", "llm_mm_dedup_phash",
         "--sf", "/root/testdata/sf0.001"],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "1/1 ok" in proc.stdout


def test_jpeg_fill_bytes_quant_guard_audio_guard():
    """ADVICE r13 regressions: (1) spec-legal 0xFF fill bytes before a
    marker decode fine; (2) out-of-range quant raises instead of
    silently desyncing the DQT; (3) audio_fp raises past 63 delta bits
    exactly like audio_fp_batch (the bigint schema contract)."""
    import numpy as np
    import pytest as pt

    from event_stream_for_k8s_spark.functions.multimodal import (
        audio_fp,
        audio_fp_batch,
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    img = np.full((8, 8), 130, dtype=np.uint8)
    enc = encode_jpeg_gray(img, 8)
    # inject fill bytes before the DQT marker (spec B.1.1.2): other
    # encoders pad marker boundaries like this
    dqt = enc.index(b"\xff\xdb")
    padded = enc[:dqt] + b"\xff\xff\xff" + enc[dqt:]
    assert (decode_jpeg_gray(padded) == decode_jpeg_gray(enc)).all()

    for q in (0, 256, -3):
        with pt.raises(ValueError, match="DQT byte range"):
            encode_jpeg_gray(img, q)

    wide = [0, 30000] * (65 * 16)  # 65 frames of 32 samples
    with pt.raises(ValueError, match="63 bits"):
        audio_fp(wide, frame=32)
    with pt.raises(ValueError, match="63 bits"):
        audio_fp_batch(np.array([wide], dtype=np.int64), frame=32)


def test_y4m_batch_forms_match_scalar():
    """encode_y4m_batch / y4m_frames_batch (the VERDICT r13 weak-#1
    constant-killers) are byte-identical to the scalar container
    codec row by row, and reject non-uniform batches so callers can
    fall back to the scalar parser."""
    import numpy as np
    import pytest as pt

    from event_stream_for_k8s_spark.functions.multimodal import (
        encode_y4m,
        encode_y4m_batch,
        y4m_frames,
        y4m_frames_batch,
    )

    rng = np.random.default_rng(14)
    planes = rng.integers(0, 256, size=(20, 3, 16, 16), dtype=np.uint8)
    streams = encode_y4m_batch(planes, 16, 16)
    for i in range(len(planes)):
        assert streams[i].tobytes() == encode_y4m(list(planes[i]), 16, 16)

    w, h, dec = y4m_frames_batch(streams)
    assert (w, h, dec.shape) == (16, 16, (20, 3, 16, 16))
    assert (dec == planes).all()
    # and the batch parse agrees with the scalar token-walk parser
    sw, sh, sf = y4m_frames(streams[3].tobytes())
    assert (sw, sh) == (16, 16) and (np.stack(sf) == dec[3]).all()

    with pt.raises(ValueError, match="frame shape"):
        encode_y4m_batch(planes, 16, 8)
    # corrupt one row's header: the whole-batch validation must catch it
    bad = streams.copy()
    bad[5, 2] ^= 1
    with pt.raises(ValueError, match="non-uniform Y4M headers"):
        y4m_frames_batch(bad)
    # corrupt a FRAME marker mid-stream
    bad2 = streams.copy()
    head_len = streams[0].tobytes().index(b"\n") + 1
    bad2[7, head_len] ^= 1
    with pt.raises(ValueError, match="marker sync lost"):
        y4m_frames_batch(bad2)
    # a C444 stream breaks the mono fixed layout: rejected, not mangled
    color = encode_y4m(list(planes[0]), 16, 16).replace(
        b"Cmono", b"C444 "
    )
    arr = np.frombuffer(color, np.uint8)[None, :]
    with pt.raises(ValueError):
        y4m_frames_batch(arr)


def test_cdc_fastcdc_bounds_and_stability(spark, tmp_path):
    """llm_dedup_chunks_cdc (VERDICT r13 #5): FastCDC min/max bounds +
    normalized chunking. (1) Boundary-spam content — a long run of one
    token whose hash satisfies BOTH divisors — cannot shatter into
    1-token chunks: every chunk is >= CDC_MIN (the plain-rule anchor
    llm_dedup_chunks degenerates here by design). (2) A boundary
    desert (no token hash ever on the mask) cannot exceed CDC_MAX.
    (3) The CDC-stability property the anchor test pins: a one-token
    insertion changes only local chunks. (4) Spark rows match the
    recursive-CTE oracle on this crafted corpus (not just testdata)."""
    import os

    import duckdb

    from tests.conftest import SF_SMOKE
    from event_stream_for_k8s_spark.catalog import TABLES
    from event_stream_for_k8s_spark.functions.text import MOD
    from event_stream_for_k8s_spark.plans import REGISTRY
    from event_stream_for_k8s_spark.plans.llm import (
        CDC_LOOSE,
        CDC_MAX,
        CDC_MIN,
        CDC_STRICT,
    )

    # hunt a spam token hitting the STRICT divisor (hence also loose
    # when loose divides strict) and desert tokens missing the LOOSE
    # divisor (hence also strict)
    def th(tok: str) -> int:
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % MOD
        return h

    spam = next(
        t
        for t in (f"sp{i}" for i in range(10_000))
        if th(t) % CDC_STRICT == 0
    )
    desert = [
        t
        for t in (f"de{i}" for i in range(10_000))
        if th(t) % CDC_LOOSE != 0
    ][:300]
    base = [f"tok{i}alpha" for i in range(120)]
    edited = base[:60] + ["inserted"] + base[60:]
    rows = [
        (0, " ".join([spam] * 300), "en", "s", 0),
        (1, " ".join(desert), "en", "s", 0),
        (2, " ".join(base), "en", "s", 0),
        (3, " ".join(edited), "en", "s", 0),
    ]
    sf = str(tmp_path / "cdc2")
    os.makedirs(sf)
    for t in TABLES:
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    os.unlink(f"{sf}/documents.parquet")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).toPandas().to_parquet(f"{sf}/documents.parquet", index=False)

    got = {
        r["doc_id"]: r
        for r in REGISTRY["llm_dedup_chunks_cdc"].spark(spark, sf).collect()
    }
    # (1) spam: 300 identical boundary-eligible tokens -> chunks of
    # exactly CDC_MIN (every position eligible, MIN wins), so
    # ceil(300/CDC_MIN) chunks, all duplicated within the doc
    assert got[0]["n_chunks"] == -(-300 // CDC_MIN)
    assert got[0]["n_dup_chunks"] >= got[0]["n_chunks"] - 2
    # (2) desert: no eligible boundary -> forced cuts at CDC_MAX
    assert got[1]["n_chunks"] == -(-300 // CDC_MAX)
    # (3) stability under a single insertion
    for did in (2, 3):
        assert got[did]["n_chunks"] >= 3
        assert got[did]["n_dup_chunks"] >= got[did]["n_chunks"] - 2
        assert got[did]["n_dup_chunks"] < got[did]["n_chunks"]
    # (4) the oracle replays the same knobs on the crafted corpus
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.sql(
            REGISTRY["llm_dedup_chunks_cdc"].oracle
        ).fetchall()
    }
    assert {
        k: (v["n_chunks"], v["n_dup_chunks"]) for k, v in got.items()
    } == want
    # sanity on the derived divisors (oracle/Spark share them)
    assert CDC_STRICT == 2 * 16 or CDC_STRICT != 0
    assert CDC_MIN <= CDC_MAX


def test_cdc_knobs_match_oracle_at_nondefault():
    """SPARK_GRAFT_CDC_MIN/AVG/MAX are real layout knobs: at a
    2/8/24 geometry (strict divisor 16, loose 4) the Spark plan must
    still hash-match the oracle, which interpolates the same derived
    constants into its recursive CTE. Subprocess because the knobs
    bind at registry import."""
    import os
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parents[1]
    env = dict(
        os.environ,
        SPARK_GRAFT_CDC_MIN="2",
        SPARK_GRAFT_CDC_AVG="8",
        SPARK_GRAFT_CDC_MAX="24",
    )
    proc = subprocess.run(
        [sys.executable, "tools/selfcheck.py", "llm_dedup_chunks_cdc",
         "--sf", "/root/testdata/sf0.001"],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "1/1 ok" in proc.stdout


def test_jpeg_color_encode_decode():
    """Baseline COLOR JPEG (4:4:4, 3 interleaved components) through
    the codec boundary (r14 — color was the dominant excluded format):
    exact on constant-color blocks and on gray-in-RGB content (the
    two families where RGB<->YCbCr is lossless), bounded-error on
    random color, per-component tables genuinely dispatched, RSTn in
    the interleaved scan, shape on ragged sizes, and the grayscale
    wrapper's explicit color rejection."""
    import numpy as np
    import pytest as pt

    from event_stream_for_k8s_spark.functions.multimodal import (
        decode_jpeg,
        decode_jpeg_gray,
        decode_jpeg_image,
        encode_jpeg_color,
        encode_jpeg_gray,
    )

    # constant-color 8x8 blocks: Y/Cb/Cr constant per block -> DC-only
    # -> integer-identity under flat Q=8 -> EXACT RGB round trip...
    # for colors whose YCbCr is lossless both ways; gray is (by
    # construction of the BT.601 matrices) always such a color
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:8, :8] = (64, 64, 64)
    img[:8, 8:] = (200, 200, 200)
    img[8:, :8] = (17, 17, 17)
    img[8:, 8:] = (130, 130, 130)
    enc = encode_jpeg_color(img, 8)
    dec = decode_jpeg_image(enc)
    assert dec.shape == (16, 16, 3)
    assert (dec == img).all()
    # the same gray content through the GRAY codec agrees channelwise
    g = decode_jpeg_gray(encode_jpeg_gray(img[..., 0], 8))
    assert (dec[..., 0] == g).all()

    # saturated primaries: chroma blocks far from 128 — bounded error
    rng = np.random.default_rng(3)
    for shape in [(8, 8), (20, 13), (1, 1), (17, 32)]:
        c = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
        d = decode_jpeg_image(encode_jpeg_color(c, 8))
        assert d.shape == (*shape, 3)
        assert np.abs(d.astype(int) - c.astype(int)).max() <= 48

    # a red/blue split image must keep its chroma (the interleave and
    # per-component predictors are load-bearing, not decorative)
    rb = np.zeros((8, 16, 3), dtype=np.uint8)
    rb[:, :8, 0] = 255
    rb[:, 8:, 2] = 255
    d = decode_jpeg_image(encode_jpeg_color(rb, 8))
    assert d[:, :8, 0].mean() > 200 and d[:, :8, 2].mean() < 60
    assert d[:, 8:, 2].mean() > 200 and d[:, 8:, 0].mean() < 60

    # feature contract pools all samples
    w, h, mean, mx = decode_jpeg(enc)
    assert (w, h) == (16.0, 16.0)
    assert mx == float(img.max()) and abs(mean - img.mean()) < 1e-9

    with pt.raises(ValueError, match="color JPEG"):
        decode_jpeg_gray(enc)
    with pt.raises(ValueError, match="expects an"):
        encode_jpeg_color(img[..., 0])


def test_jpeg_420_subsampling_roundtrip():
    """4:2:0 — the real-world default JPEG form — through the codec:
    MCU = 4 Y + 1 Cb + 1 Cr blocks over a 16x16 tile, chroma
    box-averaged down and sample-replicated back up. Exact on the
    gray-in-RGB DC+square-wave family (constant neutral chroma
    survives the down/up trip untouched), bounded-error with chroma
    bleed on saturated color, MCU edge padding on ragged sizes."""
    import numpy as np
    import pytest as pt

    from event_stream_for_k8s_spark.functions.multimodal import (
        decode_jpeg_image,
        encode_jpeg_color,
    )

    sqw = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    for p, (bi, bj) in enumerate([(0, 0), (0, 1), (1, 0), (1, 1)]):
        m, a = [40, 120, 90, 60][p], [3, 7, 0, 5][p]
        img[bi * 8 : bi * 8 + 8, bj * 8 : bj * 8 + 8, :] = (
            m + a * sqw
        )[None, :, None]
    enc = encode_jpeg_color(img, 8, subsampling="420")
    dec = decode_jpeg_image(enc)
    assert dec.shape == (16, 16, 3)
    assert (dec == img).all()  # integer-identity, like 4:4:4

    # the 420 stream is genuinely subsampled (smaller than 444) and
    # carries the 0x22 sampling byte
    enc444 = encode_jpeg_color(img, 8, subsampling="444")
    assert len(enc) < len(enc444)
    assert enc[enc.index(b"\xff\xc0") + 11] == 0x22

    rng = np.random.default_rng(5)
    for shape in [(16, 16), (20, 13), (1, 1), (17, 32)]:
        c = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
        d = decode_jpeg_image(encode_jpeg_color(c, 8, subsampling="420"))
        assert d.shape == (*shape, 3)
        # luma is block-exact-ish; chroma averaged over 2x2 — compare
        # against the chroma-smoothed reference, not the raw pixels
        assert np.abs(
            d.mean(axis=(0, 1)) - c.mean(axis=(0, 1))
        ).max() <= 16

    # 16-wide color fields survive at half chroma resolution
    rb = np.zeros((16, 32, 3), dtype=np.uint8)
    rb[:, :16, 0] = 255
    rb[:, 16:, 2] = 255
    d = decode_jpeg_image(encode_jpeg_color(rb, 8, subsampling="420"))
    assert d[:, :14, 0].mean() > 180 and d[:, 18:, 2].mean() > 180

    # 4:2:2 (chroma halved horizontally only; MCU = 2 Y + Cb + Cr
    # over a 16x8 tile): same exactness family, distinct geometry
    e422 = encode_jpeg_color(img, 8, subsampling="422")
    assert (decode_jpeg_image(e422) == img).all()
    assert e422[e422.index(b"\xff\xc0") + 11] == 0x21
    for shape in [(20, 13), (1, 1), (17, 32)]:
        c = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
        d = decode_jpeg_image(
            encode_jpeg_color(c, 8, subsampling="422")
        )
        assert d.shape == (*shape, 3)

    with pt.raises(NotImplementedError, match="444/420/422"):
        encode_jpeg_color(img, 8, subsampling="411")


def test_knn_sq8_quantization_and_recall(spark):
    """The SQ8 tier (r14): codes stay in 0..255, reconstruction error
    is bounded by scale/2 per dimension, fixture recall vs brute
    clears 0.9 (the highest approximate-tier floor — 8-bit per-dim
    resolution barely loses anything), and the empty-corpus contract
    holds."""
    import pyspark.sql.functions as F

    from event_stream_for_k8s_spark.catalog import load
    from event_stream_for_k8s_spark.operators.similarity import (
        knn_brute,
        knn_sq8,
        sq8_calibrate,
        sq8_decode,
        sq8_encode,
    )

    e = load(spark, SF, "embeddings")
    q = e.filter(
        (F.col("vec_id") % 250 == 0) & (F.col("vec_id") < 25_000)
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    c = e.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("cvec")
    )

    lo, scale = sq8_calibrate(c)
    assert len(lo) == len(scale) > 0
    enc = c.select(
        "nid",
        F.col("cvec").alias("orig"),
        sq8_encode(F.col("cvec"), lo, scale).alias("code"),
    )
    row = enc.select(
        F.min(F.array_min("code")).alias("cmin"),
        F.max(F.array_max("code")).alias("cmax"),
    ).first()
    assert 0 <= row["cmin"] and row["cmax"] <= 255
    # reconstruction error <= scale/2 + float slack, every dimension
    err = (
        enc.select(
            F.posexplode(
                F.zip_with(
                    sq8_decode(F.col("code"), lo, scale),
                    F.col("orig").cast("array<double>"),
                    lambda r, o: F.abs(r - o),
                )
            ).alias("pos", "e")
        )
        .groupBy("pos")
        .agg(F.max("e").alias("maxe"))
        .collect()
    )
    for r in err:
        assert r["maxe"] <= scale[r["pos"]] / 2 + 1e-9, r

    approx = knn_sq8(q, c, 5).select("qid", "nid")
    brute = knn_brute(q, c, 5).select("qid", "nid")
    n_b = brute.count()
    n_ov = approx.join(brute, ["qid", "nid"]).count()
    assert n_b > 0 and n_ov / n_b >= 0.9

    empty = knn_sq8(q, c.limit(0), 5)
    assert empty.count() == 0
    assert empty.columns == ["qid", "nid", "sim", "rnk"]


@pytest.mark.parametrize(
    "tier", ["knn_ivf", "knn_pq", "knn_ivfpq", "knn_sq8", "knn_ivfsq8"]
)
def test_knn_query_set_guard(spark, tier):
    """Queries are the collected or broadcast side of every quantized
    tier: an oversized query set (a corpus passed as queries) must
    raise the shared 100k guard instead of OOMing the driver or the
    broadcast."""
    from event_stream_for_k8s_spark.operators import similarity

    big_q = spark.range(100_001).select(
        F.col("id").alias("qid"), F.array(F.lit(0.5)).alias("qvec")
    )
    c = spark.range(4).select(
        F.col("id").alias("nid"), F.array(F.lit(1.0)).alias("cvec")
    )
    with pytest.raises(ValueError, match="query set exceeds 100000"):
        getattr(similarity, tier)(
            big_q, c, 5, q_id="qid", c_id="nid", q_vec="qvec", c_vec="cvec"
        )


def test_knn_ivfpq_rejects_duplicate_query_ids(spark):
    """knn_ivfpq indexes its LUTs by query id: a duplicate id would
    silently score the shadowed row with the other row's table, so it
    must raise instead."""
    from event_stream_for_k8s_spark.operators.similarity import knn_ivfpq

    c = spark.range(32).select(
        F.col("id").alias("nid"),
        F.array(*[F.sin(F.col("id") + j) for j in range(8)]).alias("cvec"),
    )
    q = c.filter(F.col("nid") < 2).union(c.filter(F.col("nid") == 0)).select(
        F.col("nid").alias("qid"), F.col("cvec").alias("qvec")
    )
    with pytest.raises(ValueError, match="requires unique qid values"):
        knn_ivfpq(q, c, 3)


def test_concurrently_fails_fast_and_cancels_siblings(spark):
    """One failed build action cancels the jobs of the others: the
    error surfaces long before the slow sibling's 60 s job would end,
    and no job is left running afterwards."""
    import time

    from event_stream_for_k8s_spark.operators.similarity import _concurrently

    sc = spark.sparkContext

    def boom(_):
        raise ValueError("injected build failure")

    def slow(x):
        import time

        time.sleep(60)
        return x

    raising_collect = sc.parallelize([0], 1).map(boom).collect
    slow_collect = sc.parallelize([0], 1).map(slow).collect
    t0 = time.monotonic()
    with pytest.raises(Exception, match="injected build failure"):
        _concurrently(raising_collect, slow_collect)
    assert time.monotonic() - t0 < 30
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert sc.statusTracker().getActiveJobsIds() == []


def test_knn_sq8_build_jobs_carry_callers_job_group(spark):
    """knn_sq8 runs its build actions (calibration, query guard) on a
    thread pool. Every job it submits must still carry the caller's
    job group, so a query's jobs stay attributable to it."""
    import pyspark.sql.functions as F

    from event_stream_for_k8s_spark.operators.similarity import knn_sq8

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup())
    c = spark.range(64).select(
        F.col("id").alias("nid"),
        F.array(F.sin("id"), F.cos("id")).alias("cvec"),
    )
    q = c.limit(4).select(
        F.col("nid").alias("qid"), F.col("cvec").alias("qvec")
    )
    sc.setJobGroup("knn-sq8-group", "knn_sq8")
    try:
        assert knn_sq8(q, c, 3).count() == 12
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(tracker.getJobIdsForGroup("knn-sq8-group")) >= 3
    assert set(tracker.getJobIdsForGroup()) - ungrouped == set()


def test_knn_ivfsq8_recall_contract_and_codegen_scan(spark):
    """llm_knn_ivfsq8's production form (r15 — the composition the
    SQ8 tier claimed): aggregate recall vs brute holds the envelope
    floor (0.3 measured exactly at this fixture — identical to the
    ivfpq tier, both dominated by the same 4/16-cell pruning), the
    per-query contract holds (k rows ranked 1..k, non-increasing
    sims, no self-match), the empty-corpus contract holds, and the
    structural claim is pinned: the scan stage runs WITHOUT Python —
    no Arrow/Batch Python eval nodes anywhere in the physical plan
    (unlike the PQ ADC, which needs LUT gathers)."""
    import pyspark.sql.functions as F

    from event_stream_for_k8s_spark.operators.similarity import knn_ivfsq8
    from event_stream_for_k8s_spark.plans.llm import knn_ivfsq8_results

    brute = {
        (r["qid"], r["nid"])
        for r in REGISTRY["llm_knn_brute"].spark(spark, SF).collect()
    }
    res = knn_ivfsq8_results(spark, SF)
    rows = res.collect()
    got = {(r["qid"], r["nid"]) for r in rows}
    recall = len(brute & got) / len(brute)
    assert recall >= 0.3, f"IVF-SQ8 recall too low: {recall}"
    by_q: dict = {}
    for r in rows:
        assert r["qid"] != r["nid"]
        by_q.setdefault(r["qid"], []).append(r)
    for members in by_q.values():
        members.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in members] == list(
            range(1, len(members) + 1)
        )
        sims = [r["sim"] for r in members]
        assert sims == sorted(sims, reverse=True)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, "IVF-SQ8 scan must stay JVM-side"

    from event_stream_for_k8s_spark.catalog import load

    e = load(spark, SF, "embeddings")
    q = e.limit(3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = e.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("cvec")
    )
    empty = knn_ivfsq8(q, c.limit(0), 5)
    assert empty.count() == 0
    assert empty.columns == ["qid", "nid", "sim", "rnk"]
