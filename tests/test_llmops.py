"""Behavioral tests for llmops paths not covered by the SQL oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import data_pipeline_spark.queries_llm  # noqa: F401  (populates QUERIES)
from data_pipeline_spark.io import load_table
from data_pipeline_spark.llmops import dedup as ld
from data_pipeline_spark.llmops import multimodal, similarity
from tests.conftest import SF_SMOKE


def test_simhash_neardup_symmetric_and_bounded(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = ld.simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=6).collect()
    for row in pairs:
        assert row.id_a < row.id_b
        assert 0 <= row.hamming <= 6


def test_lsh_recall_against_brute_force(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.neardup_pairs(emb, threshold=0.4).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.lsh_neardup_pairs(
            emb, threshold=0.4, num_tables=64, dim=64
        ).collect()
    }
    # LSH returns a subset of the exact pairs (no false positives after the
    # in-bucket exact verification); the threshold-derived banding depth
    # (b=6 at cos 0.4, L=64 => expected recall ~0.985) must hold >=90%.
    assert approx <= exact
    if exact:
        assert len(approx) / len(exact) >= 0.9


def test_lsh_arrow_verify_matches_expression_form(spark):
    """The mapInArrow bucket-pair verifier must reproduce the
    expression-form quantized cosine BIT-FOR-BIT and its null/degenerate
    semantics row-for-row: null ids drop, null vectors / null elements /
    null norms drop, unequal-length pairs drop (zip_with null-pads),
    zero norms drop (nullif), and survivors carry id_a < id_b."""
    import pyarrow as pa

    from pyspark.sql import functions as F

    from data_pipeline_spark.llmops import similarity as sim

    # buckets stress every branch: normal pairs near/below threshold,
    # a null id, a null vector, a null element, a zero-norm vector, a
    # mixed-dims class, single-member classes, exact duplicates
    def m(i, q, n):
        return {"v_id": i, "v_q": q, "v_n": n}

    def nrm(q):
        return sum(x * x for x in q)

    q1 = [1000000, 0, 0]
    q2 = [999999, 1, 0]
    q3 = [0, 1000000, 0]
    q4 = [707107, 707107, 0]
    q5 = [500, 600]  # shorter dim class
    q6 = [400, 900]
    buckets = [
        [m(1, q1, nrm(q1)), m(2, q2, nrm(q2)), m(3, q3, nrm(q3))],
        [m(4, q4, nrm(q4)), m(1, q1, nrm(q1))],       # unsorted ids
        [m(5, None, None), m(6, q1, nrm(q1)), m(7, q2, nrm(q2))],
        [m(None, q1, nrm(q1)), m(8, q2, nrm(q2)), m(9, q1, nrm(q1))],
        [m(10, [1, None, 3], 10), m(11, q1, nrm(q1)), m(12, q2, nrm(q2))],
        [m(13, [0, 0, 0], 0), m(14, q1, nrm(q1))],    # zero norm
        [m(15, q5, nrm(q5)), m(16, q6, nrm(q6)), m(17, q1, nrm(q1))],
        [m(18, q1, nrm(q1)), m(19, q1, nrm(q1))],     # exact duplicate
    ]
    schema = (
        "ms array<struct<v_id: bigint, v_q: array<bigint>, v_n: bigint>>"
    )
    df = spark.createDataFrame([(b,) for b in buckets], schema)
    thr = 0.45
    pair_cos = (
        "flatten(transform(array_sort(ms), (_px, _pi) -> "
        "transform(slice(array_sort(ms), _pi + 2, size(ms)), "
        "_py -> named_struct("
        "'id_a', _px.v_id, 'id_b', _py.v_id, "
        "'cos_sim', "
        + sim.cos_cols_sql("_px.v_q", "_py.v_q", "_px.v_n", "_py.v_n")
        + "))))"
    )
    expr_form = (
        df.select(F.explode(F.expr(pair_cos)).alias("p"))
        .select("p.id_a", "p.id_b", "p.cos_sim")
        .filter(F.col("cos_sim") >= thr)
        # the join form dropped null-id members at the inner join; the
        # expression form above keeps them, so align here
        .filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
    )
    arrow_form = df.mapInArrow(
        sim._bucket_pair_verify(thr), "id_a long, id_b long, cos_sim double"
    )
    a = sorted(map(tuple, expr_form.collect()))
    b = sorted(map(tuple, arrow_form.collect()))
    assert a == b and len(a) > 0
    assert all(x < y for x, y, _ in b)

    # STRING ids (the flood-guard tests use them): canonical orientation
    # must match Spark's UTF8 ordering, including non-ASCII
    sbuckets = [
        [m("b", q1, nrm(q1)), m("a", q2, nrm(q2)), m("é", q3, nrm(q3))],
        [m("z9", q4, nrm(q4)), m("z10", q1, nrm(q1))],
    ]
    sschema = (
        "ms array<struct<v_id: string, v_q: array<bigint>, v_n: bigint>>"
    )
    sdf = spark.createDataFrame([(b_,) for b_ in sbuckets], sschema)
    s_expr = (
        sdf.select(F.explode(F.expr(pair_cos)).alias("p"))
        .select("p.id_a", "p.id_b", "p.cos_sim")
        .filter(F.col("cos_sim") >= thr)
    )
    s_arrow = sdf.mapInArrow(
        sim._bucket_pair_verify(thr),
        "id_a string, id_b string, cos_sim double",
    )
    sa = sorted(map(tuple, s_expr.collect()))
    sb = sorted(map(tuple, s_arrow.collect()))
    assert sa == sb and len(sa) > 0


def test_qvec_fixed_sql_bit_identical(spark):
    """The unrolled fixed-dim quantize/norm builders must equal the
    transform/aggregate forms row-for-row on every shape: exact-dim,
    short, long, empty, NULL vector, NULL elements, negative values."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.llmops import similarity as sim

    dim = 4
    rows = [
        (1, [0.5, -0.25, 1.0, 0.125]),
        (2, [0.1, 0.2, 0.3]),              # short
        (3, [0.1, 0.2, 0.3, 0.4, 0.5]),    # long
        (4, []),                           # empty
        (5, None),                         # null vector
        (6, [0.1, None, 0.3, 0.4]),        # null element
        (7, [0.0, 0.0, 0.0, 0.0]),         # zero
        (8, [-1.0, 1.0, -1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    old = df.select(
        "id",
        F.expr(sim.qvec_sql("v")).alias("q"),
        F.expr(sim.norm_sq_sql("v")).alias("n"),
    )
    new = df.select(
        "id", F.expr(sim.qvec_fixed_sql("v", dim)).alias("q")
    ).select("id", "q", F.expr(sim.norm_sq_from_q_sql("q", dim)).alias("n"))
    assert old.dtypes == new.dtypes
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_multimodal_decode_stub_retained_for_compressed_formats():
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"RIFF....WEBP", "webp")
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\x89PNG")  # unknown format
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"OggS", "ogg")
    # flac decodes natively including LPC subframes, all three
    # stereo-decorrelation assignments, and ALL spec widths
    # (8/12/16/20/24/32-bit) as of r9; the remaining seam is
    # inconsistent streams — a STREAMINFO/frame width mismatch must
    # route to soundfile, not mis-decode either width
    import numpy as np

    from data_pipeline_spark.llmops import flac as flac_codec

    blob = bytearray(
        flac_codec.encode_flac(2, 8000, np.arange(128, dtype="<i2").tobytes())
    )
    # STREAMINFO bps-1 field: 5 bits straddling bytes 12-13 of the block
    # body (at file offset 8): ...rate(20) ch(3) bps(5)... -> set 20-bit
    # while the frame headers still declare 16-bit
    si = 8
    blob[si + 12] = (blob[si + 12] & 0xFE) | ((20 - 1) >> 4)
    blob[si + 13] = ((20 - 1) << 4 & 0xFF) | (blob[si + 13] & 0x0F)
    with pytest.raises(NotImplementedError):
        flac_codec.decode_flac(bytes(blob))
    # jpeg decodes EVERY non-hierarchical mode natively as of r9
    # (SOF0/1/2/3 huffman, SOF9/10/11 arithmetic); the remaining seams
    # are the differential/hierarchical modes (SOF5, SOF13) — both must
    # route to the PIL seam, not mis-decode
    import struct

    for sof in (b"\xff\xcd", b"\xff\xc5"):
        blob = (
            b"\xff\xd8"
            + sof + struct.pack(">H", 11)
            + struct.pack(">BHHB", 8, 1, 1, 1) + bytes([1, 0x11, 0])
            + b"\xff\xd9"
        )
        with pytest.raises(NotImplementedError):
            multimodal.decode_media(blob, "jpeg")


def test_jpeg_codec_roundtrip_bounded_loss():
    """Baseline JPEG encode->decode: exact on flat blocks, tightly bounded
    on smooth gradients, and the luminance statistics of the decoded
    pixels match a directly-computed reference."""
    import numpy as np

    flat = bytes([77] * (3 * 8 * 8))
    w, h, out = multimodal._decode_jpeg(multimodal._encode_jpeg(8, 8, flat))
    assert (w, h) == (8, 8)
    assert max(abs(b - 77) for b in out) <= 1

    grad = bytes(
        v
        for y in range(16)
        for x in range(16)
        for v in (x * 16, y * 16, ((x + y) * 8) % 256)
    )
    w, h, out = multimodal._decode_jpeg(
        multimodal._encode_jpeg(16, 16, grad, quality=95)
    )
    assert (w, h) == (16, 16)
    err = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(grad, np.uint8).astype(int)
    )
    assert err.max() <= 4

    # odd (non-multiple-of-8) dimensions survive the block padding
    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, size=(5, 13, 3), dtype=np.uint8).tobytes()
    w, h, out = multimodal._decode_jpeg(multimodal._encode_jpeg(13, 5, rgb))
    assert (w, h, len(out)) == (13, 5, 3 * 13 * 5)

    # luminance histogram of a decoded jpeg == reference computed straight
    # from its decoded pixels with the same integer BT.601 binning (the
    # extract_features contract)
    blob = multimodal._encode_jpeg(16, 16, grad, quality=95)
    hist = multimodal._luminance_histogram(blob, "jpeg", 16)
    px = np.frombuffer(
        multimodal._decode_jpeg(blob)[2], np.uint8
    ).reshape(-1, 3).astype(np.int64)
    lum = (299 * px[:, 0] + 587 * px[:, 1] + 114 * px[:, 2]) // 1000
    ref = np.bincount((lum * 16) // 256, minlength=16) / 256
    assert hist == pytest.approx(ref.tolist())


def test_image_codec_roundtrip():
    """decode(encode(x)) == x for all three real image codecs, including
    BMP row padding (w=3 -> 9-byte rows padded to 12) and PNG's
    deflate-compressed scanlines."""
    w, h = 3, 2
    rgb = bytes(range(10, 10 + 3 * w * h))
    for fmt in ("bmp", "ppm", "png"):
        blob = multimodal._CODECS[fmt][1](w, h, rgb)
        assert multimodal.decode_media(blob, fmt) == (w, h, rgb)


def test_png_decoder_handles_all_filters_and_color_types():
    """The PNG decoder must reconstruct Sub/Up/Average/Paeth-filtered
    scanlines (an external encoder's choice, not ours) and normalize
    grayscale and RGBA to the RGB buffer."""
    import struct
    import zlib

    import numpy as np

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    def png(w, h, ch, color_type, rows_with_filters):
        raw = b"".join(bytes([ft]) + bytes(row) for ft, row in rows_with_filters)
        return (multimodal._PNG_SIG
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))

    # 2x4 RGB, one scanline per filter type; compute expected via a
    # reference unfilter in plain python
    rng = np.random.RandomState(7)
    w, h, ch = 2, 4, 3
    plain = rng.randint(0, 256, size=(h, w * ch)).astype(np.uint8)

    def filt(ft, y):
        cur, prev = plain[y].astype(int), (plain[y - 1].astype(int) if y else [0] * (w * ch))
        out = []
        for i in range(w * ch):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((cur[i] - pred) & 0xFF)
        return out

    blob = png(w, h, ch, 2, [(ft, filt(ft, y)) for y, ft in enumerate([1, 2, 3, 4])])
    got = multimodal.decode_media(blob, "png")
    assert got == (w, h, plain.tobytes())

    # grayscale (type 0) replicates to RGB; RGBA (type 6) drops alpha
    gray = png(2, 1, 1, 0, [(0, [10, 200])])
    assert multimodal.decode_media(gray, "png") == (
        2, 1, bytes([10, 10, 10, 200, 200, 200])
    )
    rgba_row = [1, 2, 3, 255, 4, 5, 6, 128]
    rgba = png(2, 1, 4, 6, [(0, rgba_row)])
    assert multimodal.decode_media(rgba, "png") == (2, 1, bytes([1, 2, 3, 4, 5, 6]))


def test_wav_codec_roundtrip_and_amplitude_stats(spark):
    """decode(encode(x)) == x for 16-bit PCM WAV; a half-silent half-full-
    scale waveform must land its mass in the middle and edge amplitude
    buckets — real sample statistics, not byte counting."""
    import numpy as np

    pcm = np.array([0, 0, -32768, 32767] * 25, "<i2")
    blob = multimodal._encode_wav(1, 8000, pcm.tobytes())
    assert multimodal.decode_audio(blob, "wav") == (1, 8000, pcm.tobytes())

    media = spark.createDataFrame(
        [(1, blob, "audio", "wav", len(blob))], schema=multimodal.MEDIA_SCHEMA
    )
    hist = multimodal.extract_features(media, buckets=16).collect()[0].features
    assert hist[8] == pytest.approx(0.5)   # zeros -> middle bucket
    assert hist[0] == pytest.approx(0.25)  # -32768 -> first bucket
    assert hist[15] == pytest.approx(0.25)  # +32767 -> last bucket


def test_multiformat_media_real_decode_distributed(spark):
    """synthesize_multiformat_media covers all eight codecs per batch and
    extract_features decodes every row for real (fallback histogram never
    runs: all formats are native)."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    media = multimodal.synthesize_multiformat_media(docs, "doc_id", "text")
    fmts = {r.format for r in media.select("format").distinct().collect()}
    assert fmts == {"bmp", "ppm", "png", "wav", "jpeg", "flac", "gif", "tiff"}
    feats = multimodal.extract_features(media, buckets=16).collect()
    assert len(feats) == 40
    for r in feats:
        assert len(r.features) == 16
        assert sum(r.features) == pytest.approx(1.0)

    # audio resize: wav rows resample to exactly width*height frames
    resized = multimodal.resize_media(media.filter(F.col("format") == "wav"), 4, 4)
    for r in resized.collect():
        ch, rate, frames = multimodal.decode_audio(bytes(r.content), "wav")
        assert (ch, rate) == (1, 8000)
        assert len(frames) == 2 * 16  # 16 mono int16 frames


def test_extract_features_computes_real_pixel_stats(spark):
    """A 2x2 image with two black and two white pixels must yield a
    luminance histogram with exactly 0.5 in the first and last buckets —
    actual decoded-pixel statistics, not byte counting."""
    rgb = bytes([0, 0, 0, 255, 255, 255, 0, 0, 0, 255, 255, 255])
    rows = [
        (1, multimodal._encode_bmp(2, 2, rgb), "image", "bmp", 0),
        (2, multimodal._encode_ppm(2, 2, rgb), "image", "ppm", 0),
        (3, b"\x00\xff\x00\xff", "image", "raw", 4),  # fallback path
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    feats = {r.media_id: r.features for r in
             multimodal.extract_features(media, buckets=16).collect()}
    for mid in (1, 2):
        hist = feats[mid]
        assert hist[0] == pytest.approx(0.5) and hist[15] == pytest.approx(0.5)
        assert sum(hist[1:15]) == 0.0
    # non-decodable rows still produce a same-width normalized histogram
    assert len(feats[3]) == 16 and sum(feats[3]) == pytest.approx(1.0)


def test_resize_media_real_nearest_neighbor(spark):
    """4x4 quadrant-colored BMP resized to 2x2: each output pixel must be
    the top-left sample of its quadrant, re-encoded as a valid BMP."""
    quad = {(0, 0): (255, 0, 0), (0, 1): (0, 255, 0),
            (1, 0): (0, 0, 255), (1, 1): (255, 255, 0)}
    rgb = bytearray()
    for y in range(4):
        for x in range(4):
            rgb += bytes(quad[(y // 2, x // 2)])
    blob = multimodal._encode_bmp(4, 4, bytes(rgb))
    media = spark.createDataFrame(
        [(1, blob, "image", "bmp", len(blob))], schema=multimodal.MEDIA_SCHEMA
    )
    out = multimodal.resize_media(media, width=2, height=2).collect()[0]
    assert (out.width, out.height) == (2, 2)
    w, h, small = multimodal.decode_media(bytes(out.content), "bmp")
    assert (w, h) == (2, 2)
    expect = bytes(
        b for y in range(2) for x in range(2) for b in quad[(y, x)]
    )
    assert small == expect


def test_multimodal_features_batch_shape(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    media = multimodal.attach_media(docs, "doc_id", "text")
    feats = multimodal.extract_features(media, buckets=16).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-6  # normalized histogram
        assert r.n_bytes > 0


def test_minhash_signature_shape(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(10)
    sigs = ld.minhash_signatures(docs, "doc_id", "text", num_hashes=8).collect()
    assert len(sigs) == 10
    for r in sigs:
        assert len(r.sig) == 8
        # double-hash family: h_j = h1 + j*h2 with h1 60-bit, h2 48-bit —
        # every element fits signed 64 with headroom (no overflow wrap)
        assert all(isinstance(h, int) and 0 <= h < (1 << 61) for h in r.sig)


def test_minhash_double_hash_matches_reference_md5(spark):
    """The h1/h2 cuts must equal int(md5_hex[0:15], 16) and
    int(md5_hex[16:28], 16) — pinned against hashlib so the DuckDB oracle's
    ('0x'||substr)::BIGINT arithmetic provably computes the same family."""
    import hashlib

    df = spark.createDataFrame([("alpha beta gamma delta",)], "shingle STRING")
    from pyspark.sql import functions as F

    md5 = F.md5("shingle")
    row = df.select(
        F.conv(F.substring(md5, 1, 15), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(md5, 17, 12), 16, 10).cast("bigint").alias("h2"),
    ).collect()[0]
    hx = hashlib.md5(b"alpha beta gamma delta").hexdigest()
    assert row.h1 == int(hx[:15], 16)
    assert row.h2 == int(hx[16:28], 16)


def test_ivf_recall_against_brute_force(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    approx_rows = similarity.ivf_topk(emb, queries, k=5).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    # DEFAULT config (n_probe=24/64 spherical-k-means lists): the
    # documented production floor on the uniform-sphere corpus — the
    # adversarial geometry for coarse routing (measures 0.82 here;
    # the r10 recall grid is in ROUND10_NOTES.md)
    assert len(approx_rows) > 0
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"IVF recall below the production floor: {recall}"


def test_filtered_cosine_topk_prefilter_semantics(spark):
    """Filtered vector search uses PRE-filter semantics: every neighbor
    satisfies the predicate, k fills from the eligible set, and the
    result equals brute-force top-k over the filtered base."""
    from data_pipeline_spark.queries import QUERIES

    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = QUERIES["filtered_cosine_topk"].spark(spark, SF_SMOKE).collect()
    assert out, "filtered search returned nothing"
    assert all(r.label % 2 == 0 for r in out)
    # equals cosine_topk over the pre-filtered base
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk(
            emb.filter(F.col("label").isin(0, 2, 4, 6, 8)),
            emb.filter(F.col("vec_id") < 5),
            id_col="vec_id",
            k=10,
        ).collect()
    }
    got = {(r.query_id, r.neighbor_id, r.rank) for r in out}
    assert got == want
    # k fills fully whenever the eligible set is large enough
    per_q: dict = {}
    for r in out:
        per_q[r.query_id] = max(per_q.get(r.query_id, 0), r.rank)
    n_eligible = emb.filter(F.col("label").isin(0, 2, 4, 6, 8)).count()
    for q, mx in per_q.items():
        assert mx == min(10, n_eligible), (q, mx)


def test_ivf_assign_inrow_matches_window_formulation(spark):
    """The vectorized in-row assignment (ivf_assign_col) is bit-identical
    to the r9 broadcast-join + row_number formulation on BOTH quantizer
    paths (k-means and lazy), including the NULL-vector -> list 0 edge,
    and its plan has ZERO exchanges (the old form shuffled corpus x
    n_lists rows through a per-vector window)."""
    import re

    from pyspark.sql import Window

    from data_pipeline_spark.plans import audit

    emb = load_table(spark, SF_SMOKE, "embeddings")
    extra = spark.createDataFrame([(10_000_001, None, None)], emb.schema)
    emb = emb.unionByName(extra)
    for iters in (10, 0):
        c = similarity.ivf_centroids(
            emb, "vec_id", "embedding", 16, iters, 4096
        )
        cq_rows = similarity.quantized_centroid_rows(c)
        new = emb.select(
            "vec_id",
            similarity.ivf_assign_col(cq_rows, F.col("embedding")).alias(
                "list_id"
            ),
        )
        plan = audit.formatted_plan(new)
        assert re.search(r"\(\d+\) Exchange\b", plan) is None, plan
        assert "ArrowEvalPython" in plan, plan
        v = similarity.quantized(emb, "vec_id", "embedding", "v")
        cq = c.select(
            "list_id",
            similarity._qvec(F.col("c_vec")).alias("c_q"),
            similarity.quantized_norm_sq(F.col("c_vec")).alias("c_n"),
        )
        scored = v.join(F.broadcast(cq)).select(
            "v_id",
            "list_id",
            similarity._cos_from_parts(
                similarity._int_dot(F.col("v_q"), F.col("c_q")),
                F.col("v_n"),
                F.col("c_n"),
            ).alias("c_cos"),
        )
        w = Window.partitionBy("v_id").orderBy(
            F.col("c_cos").desc(), F.col("list_id").asc()
        )
        old = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("v_id").alias("vec_id"), "list_id")
        )
        a = {r.vec_id: r.list_id for r in new.collect()}
        b = {r.vec_id: r.list_id for r in old.collect()}
        assert a == b, {k: (a.get(k), b.get(k)) for k in a if a.get(k) != b.get(k)}
        assert a[10_000_001] == 0  # NULL vector -> lowest list in both


def test_ivf_assign_col_degenerate_inputs(spark):
    """The documented degenerate contract: a zero-norm CENTROID ranks
    last (never wins while a finite cosine exists), and NULL vectors,
    NULL-element vectors and zero-norm vectors all land on list 0 —
    deterministic outcomes where the ANSI window form raised
    DIVIDE_BY_ZERO."""
    from pyspark.sql import Row

    cq_rows = [
        Row(list_id=0, c_q=[0, 0], c_n=0),            # zero-norm centroid
        Row(list_id=1, c_q=[1_000_000, 0], c_n=1_000_000_000_000),
        Row(list_id=2, c_q=[0, 1_000_000], c_n=1_000_000_000_000),
    ]
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.1]),    # nearest real centroid: list 1
            (2, [0.1, 1.0]),    # nearest real centroid: list 2
            (3, None),          # NULL vector -> list 0
            (4, [0.5, None]),   # NULL element -> list 0
            (5, [0.0, 0.0]),    # zero-norm vector -> list 0
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    got = {
        r.vec_id: r.list_id
        for r in df.select(
            "vec_id",
            similarity.ivf_assign_col(cq_rows, F.col("embedding")).alias(
                "list_id"
            ),
        ).collect()
    }
    assert got == {1: 1, 2: 2, 3: 0, 4: 0, 5: 0}, got

    # driver_probe_lists: the zero-norm centroid ranks LAST
    qq, qn = [1_000_000, 0], 1_000_000_000_000
    assert similarity.driver_probe_lists(qq, qn, cq_rows, 2) == [1, 2]
    assert similarity.driver_probe_lists(qq, qn, cq_rows, 3) == [1, 2, 0]
    # zero-norm query: every cosine degenerate -> first lists by id
    assert similarity.driver_probe_lists([0, 0], 0, cq_rows, 2) == [0, 1]


def test_driver_probe_lists_matches_ivf_probes(spark):
    """driver_probe_lists (the zero-job probe twin ivfpq uses) returns
    the same probe set as the ivf_probes window for every query."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    c = similarity.ivf_centroids(emb, "vec_id", "embedding", 16, 10, 4096)
    cq_rows = similarity.quantized_centroid_rows(c)
    qs = emb.filter(F.col("vec_id") < 8)
    want: dict = {}
    for r in (
        similarity.ivf_probes(qs, c, "vec_id", "embedding", 6)
        .select("query_id", "list_id")
        .collect()
    ):
        want.setdefault(r.query_id, set()).add(r.list_id)
    qrows = qs.select(
        F.col("vec_id").cast("long").alias("qid"),
        similarity._qvec(F.col("embedding")).alias("qq"),
        similarity.quantized_norm_sq(F.col("embedding")).alias("qn"),
    ).collect()
    assert len(qrows) > 0
    for r in qrows:
        got = set(similarity.driver_probe_lists(r.qq, r.qn, cq_rows, 6))
        assert got == want[r.qid], (r.qid, got, want[r.qid])


def test_connected_components_chain_and_singletons(spark):
    """A 4-node chain (diameter 3) collapses to its min id — propagation
    goes beyond one hop; untouched nodes stay singletons of themselves."""
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (7, 8)], "id_a LONG, id_b LONG"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 7, 8]], "doc_id LONG"
    )
    got = {
        r.doc_id: r.component
        for r in ld.connected_components(edges, nodes, "doc_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 7: 7, 8: 7}


def test_star_components_high_diameter_and_parity(spark):
    """Large-star/small-star CC: a 31-node path graph (diameter 30, where
    label propagation would need O(diameter) rounds) collapses to one
    component in O(log n) rounds; on a near-dup-shaped clustered graph the
    result is identical to ``connected_components``' driver union-find."""
    # path graph 0-1-2-...-30
    path_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a LONG, id_b LONG"
    )
    path_nodes = spark.createDataFrame([(i,) for i in range(32)], "doc_id LONG")
    got = {
        r.doc_id: r.component
        for r in ld.connected_components_star(
            path_edges, path_nodes, "doc_id", max_rounds=8
        ).collect()
    }
    assert got == {**{i: 0 for i in range(31)}, 31: 31}

    # near-dup-shaped graph: small dense clusters + chain + singleton
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (7, 8), (10, 11), (11, 12), (10, 12)],
        "id_a LONG, id_b LONG",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 7, 8, 10, 11, 12]], "doc_id LONG"
    )
    star = {
        r.doc_id: r.component
        for r in ld.connected_components_star(edges, nodes, "doc_id").collect()
    }
    uf = {
        r.doc_id: r.component
        for r in ld.connected_components(edges, nodes, "doc_id").collect()
    }
    assert star == uf


def test_star_components_single_round_budget(spark):
    """max_rounds=1 probes round 1: an edge set that is already a union of
    stars converges there and returns the star labels."""
    edges = spark.createDataFrame(
        [(1, 2), (3, 1), (5, 6)], "id_a LONG, id_b LONG"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id LONG")
    got = {
        r.doc_id: r.component
        for r in ld.connected_components_star(
            edges, nodes, "doc_id", max_rounds=1
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_approx_distinct_error_bound(spark):
    """HLL at rsd=2% stays within 5% of the exact distinct count."""
    from data_pipeline_spark.queries import QUERIES

    approx = {
        r.event_type: r.n_users_approx
        for r in QUERIES["approx_distinct_users_scale_path"].spark(
            spark, SF_SMOKE
        ).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(1, 0.05 * exact[k]), (k, approx[k], exact[k])


def test_approx_quantiles_rank_error_bound(spark):
    """GK quantiles land within 1% rank error of the exact order stats."""
    from data_pipeline_spark.queries import QUERIES

    rows = QUERIES["approx_doc_length_quantiles"].spark(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    for r in rows:
        vals = sorted(
            x.n_chars for x in docs.filter(F.col("lang") == r.lang).collect()
        )
        n = len(vals)
        for q, got in zip(
            (0.5, 0.9, 0.99), (r.p50_approx, r.p90_approx, r.p99_approx)
        ):
            lo = vals[max(0, int((q - 0.01) * n) - 1)]
            hi = vals[min(n - 1, int((q + 0.01) * n))]
            assert lo <= got <= hi, (r.lang, q, got, lo, hi)


def test_jaccard_df_cap_bounds_candidates_but_verifies_exactly(spark):
    """The document-frequency cap excludes boilerplate shingles from the
    similarity space; pairs whose shingles are all under the cap get
    bit-identical jaccard to the uncapped run (the oracle regime)."""
    rows = [
        # a/b: near-identical, share rare + common shingles
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        # c/d/e: share ONLY the boilerplate prefix (common, df=5 > cap)
        (3, "common prefix words here tail three"),
        (4, "common prefix words here tail four4 x"),
        (5, "common prefix words here tail five5 y"),
        (6, "common prefix words here tail six66 z"),
        (7, "common prefix words here tail seven s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = ld.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_df=2
    ).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    # boilerplate-only pairs: their shared shingles all exceed max_df, so
    # they never become candidates (documented recall contract)
    assert all(a == 1 and b == 2 for (a, b) in pairs)

    # uncapped run at the same threshold finds the boilerplate pairs too —
    # and for every pair BOTH runs emit, the jaccard values are identical
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in ld.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, max_df=10**9
        ).collect()
    }
    assert (3, 4) in full
    for k, v in pairs.items():
        assert full[k] == v


def test_multimodal_resize_and_frame_sample_shapes(spark):
    """resize is 1:1 with a fixed byte budget; frame sampling is 1:N inside
    mapInPandas; both deterministic."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(10)
    media = multimodal.attach_media(docs, "doc_id", "text")
    resized = multimodal.resize_media(media, width=8, height=8)
    rows = resized.collect()
    assert len(rows) == 10
    for r in rows:
        assert r.n_bytes == 64 and len(bytes(r.content)) == 64

    frames = multimodal.sample_frames(resized, n_frames=4).collect()
    assert len(frames) == 40  # 1:N explosion
    by_media = {}
    for fr in frames:
        by_media.setdefault(fr.media_id, []).append(fr)
        assert fr.n_bytes == len(bytes(fr.content)) > 0
    assert all(
        sorted(f.frame_index for f in v) == [0, 1, 2, 3] for v in by_media.values()
    )
    # determinism across runs
    again = multimodal.sample_frames(resized, n_frames=4).collect()
    assert {(f.media_id, f.frame_index, bytes(f.content)) for f in frames} == {
        (f.media_id, f.frame_index, bytes(f.content)) for f in again
    }


def test_image_codec_property_roundtrip():
    """Property: decode(encode(w, h, rgb)) is the identity for arbitrary
    dimensions (including stride-padding widths) and pixel bytes, for both
    real codecs; resize to the same size is also the identity."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=1, max_value=9),
        st.randoms(use_true_random=False),
    )
    def check(w, h, rnd):
        rgb = bytes(rnd.randrange(256) for _ in range(3 * w * h))
        for fmt in ("bmp", "ppm", "png"):
            blob = multimodal._CODECS[fmt][1](w, h, rgb)
            assert multimodal.decode_media(blob, fmt) == (w, h, rgb)
            assert multimodal._nn_resize(w, h, rgb, w, h) == rgb

    check()


def test_decile_binning_degenerate_constant_length(spark, tmp_path):
    """All docs in one 256-char bucket (constant n_chars): the two-phase
    closed-form NTILE must still reproduce exact NTILE semantics — the
    first (n mod 10) tiles get the extra row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.queries import QUERIES

    n = 25
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(["w" * 40] * n),
                "lang": pa.array(["en"] * n),
                "source": pa.array(["s"] * n),
                "n_chars": pa.array([40] * n, pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = {
        r.doc_id: r.decile
        for r in QUERIES["quality_decile_binning"].spark(
            spark, str(tmp_path)
        ).collect()
    }
    # NTILE(10) over 25 rows ordered by doc_id: tiles 1-5 have 3 rows,
    # tiles 6-10 have 2
    expect, rank = {}, 0
    for tile in range(1, 11):
        size = 3 if tile <= 5 else 2
        for _ in range(size):
            expect[rank] = tile
            rank += 1
    assert got == expect


def test_simhash64_halves_and_exact_banding(spark):
    """64-bit scale path: (1) sh_hi is bit-identical to the 32-bit
    signature (shared nibble definition); (2) the 16-bit-band blocked
    pairs equal the brute-force O(n^2) Hamming<=3 set exactly
    (pigeonhole over 4 disjoint bands)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    sig32 = {r.doc_id: r.simhash for r in
             ld.simhash_signatures(docs, "doc_id", "text").collect()}
    sig64 = {r.doc_id: (r.sh_hi, r.sh_lo) for r in
             ld.simhash64_signatures(docs, "doc_id", "text").collect()}
    assert set(sig32) == set(sig64)
    for d, s in sig32.items():
        assert sig64[d][0] == s
        assert 0 <= sig64[d][1] < 2**32

    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in ld.simhash64_neardup_pairs(
            docs, "doc_id", "text", max_hamming=3
        ).collect()
    }
    ids = sorted(sig64)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sig64[a][0] ^ sig64[b][0]).count("1") + bin(
                sig64[a][1] ^ sig64[b][1]
            ).count("1")
            if h <= 3:
                brute.add((a, b, h))
    assert got == brute


def test_multimodal_real_decode_query_runs_real_codec(spark):
    """The catalog query's features must equal the luminance histogram of
    the synthesized BMP computed directly — proving the distributed path
    decodes real pixels, not the byte-count fallback."""
    from data_pipeline_spark.queries import QUERIES

    rows = QUERIES["multimodal_real_decode"].spark(spark, SF_SMOKE).collect()
    by_doc: dict[int, dict[int, float]] = {}
    for r in rows:
        by_doc.setdefault(r.media_id, {})[r.feat_idx] = r.value
    docs = {r.doc_id: r.text for r in
            load_table(spark, SF_SMOKE, "documents").limit(3).collect()}
    for doc_id, text in docs.items():
        raw = text.encode("utf-8")
        rgb = (raw * (48 // len(raw) + 1))[:48]
        blob = multimodal._encode_bmp(4, 4, rgb)
        expect = multimodal._luminance_histogram(blob, "bmp", 16)
        got = [by_doc[doc_id][i] for i in range(16)]
        assert got == expect


def test_segment_dup_stats_flags_cross_doc_boilerplate(spark):
    """A shared 8-token boilerplate prefix is duplicated in both docs;
    unique tails are not.  Short docs (<8 tokens) contribute nothing."""
    boiler = "all rights reserved contact the site admin today"
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique tail one two three four five six"),
            (2, boiler + " other ending seven eight nine ten eleven twelve"),
            (3, "too short"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r.doc_id: (r.n_segments, r.n_dup_segments)
        for r in ld.segment_dup_stats(docs, "doc_id", "text", seg_len=8).collect()
    }
    assert got == {1: (2, 1), 2: (2, 1)}  # doc 3 has no full segment


def test_hashed_classifier_score_deterministic_and_bounded(spark):
    from data_pipeline_spark.llmops import classify

    docs = load_table(spark, SF_SMOKE, "documents").limit(30)
    a = {r.doc_id: (r.vote_sum, r.score, r.keep)
         for r in classify.hashed_linear_score(docs, "doc_id", "text").collect()}
    b = {r.doc_id: (r.vote_sum, r.score, r.keep)
         for r in classify.hashed_linear_score(
             docs.repartition(7), "doc_id", "text").collect()}
    assert a == b  # order/partitioning independent (integer vote sums)
    for vote_sum, score, keep in a.values():
        assert -1.0 <= score <= 1.0
        assert keep == int(vote_sum >= 0)


def test_pii_scrub_counts_and_redacts(spark):
    from data_pipeline_spark.llmops import classify

    docs = spark.createDataFrame(
        [
            (1, "reach me at alice@example.com or bob.smith@mail.co today"),
            (2, "call 555-123-4567 and 999-888-7777 now"),
            (3, "nothing sensitive here"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: (r.n_emails, r.n_phones)
           for r in classify.pii_scrub(docs, "doc_id", "text").collect()}
    assert got == {1: (2, 0), 2: (0, 2), 3: (0, 0)}


def test_wav_codec_property_roundtrip():
    """Property: decode(encode(ch, rate, pcm)) is the identity for
    arbitrary channel counts, rates, and 16-bit sample data; resampling to
    the same frame count is also the identity."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=4),       # channels
        st.sampled_from([8000, 16000, 44100]),       # rate
        st.integers(min_value=1, max_value=50),      # frames
        st.randoms(use_true_random=False),
    )
    def check(ch, rate, n_frames, rnd):
        pcm = np.array(
            [rnd.randrange(-32768, 32768) for _ in range(n_frames * ch)], "<i2"
        ).tobytes()
        blob = multimodal._encode_wav(ch, rate, pcm)
        assert multimodal.decode_audio(blob, "wav") == (ch, rate, pcm)
        assert multimodal._real_audio_resample(blob, "wav", n_frames) == blob
        # real resampling: n_target != n picks evenly spaced source frames
        # via the same floor-grid as the image path
        up = multimodal._real_audio_resample(blob, "wav", 2 * n_frames)
        _, _, up_pcm = multimodal.decode_audio(up, "wav")
        src = np.frombuffer(pcm, "<i2").reshape(-1, ch)
        idx = (np.arange(2 * n_frames) * n_frames) // (2 * n_frames)
        assert up_pcm == src[idx].astype("<i2").tobytes()
        down = multimodal._real_audio_resample(blob, "wav", max(1, n_frames // 2))
        _, _, dn_pcm = multimodal.decode_audio(down, "wav")
        dn_n = max(1, n_frames // 2)
        idx2 = (np.arange(dn_n) * n_frames) // dn_n
        assert dn_pcm == src[idx2].astype("<i2").tobytes()

    check()


def test_strip_duplicated_segments_removes_cross_doc_boilerplate(spark):
    """The shared 8-token boilerplate prefix is stripped from BOTH docs;
    unique segments and sub-segment tails survive; short docs and
    all-boilerplate docs reduce to their tails."""
    import hashlib

    boiler = "all rights reserved contact the site admin today"
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique tail one two three four five six extra"),
            (2, boiler + " other ending seven eight nine ten eleven twelve"),
            (3, "too short"),
            (4, boiler),  # all-boilerplate, no tail
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r.doc_id: (r.clean_md5, r.n_kept_segments, r.n_dropped_segments)
        for r in ld.strip_duplicated_segments(docs, "doc_id", "text").collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got[1] == (md5("unique tail one two three four five six extra"), 1, 1)
    assert got[2] == (md5("other ending seven eight nine ten eleven twelve"), 1, 1)
    assert got[3] == (md5("too short"), 0, 0)  # tail-only, unchanged
    assert got[4] == (md5(""), 0, 1)  # fully boilerplate -> empty text


def test_connected_components_distributed_path_matches_union_find(
    spark, monkeypatch
):
    """The dispatcher's two branches return identical rows on in-contract
    input (every endpoint a node) carrying duplicate, reversed and
    self-loop edges: a bound of 0 sends the graph to the star rounds."""
    edges = spark.createDataFrame(
        [
            (2, 1), (2, 3), (3, 4), (7, 8), (10, 11), (11, 12),
            (2, 1), (1, 2), (8, 7), (12, 11),  # duplicate / reversed
            (5, 5), (4, 4),  # self-loops
        ],
        "id_a LONG, id_b LONG",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 7, 8, 10, 11, 12]], "doc_id LONG"
    )

    def rows():
        comp = ld.connected_components(edges, nodes, "doc_id")
        return sorted((r.doc_id, r.component) for r in comp.collect())

    uf = rows()
    monkeypatch.setattr(ld, "UNION_FIND_MAX_EDGES", 0)
    dist = rows()
    assert dist == uf == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 5),
        (7, 7), (8, 7), (10, 10), (11, 10), (12, 10),
    ]


def test_connected_components_distributed_path_high_diameter(
    spark, monkeypatch
):
    """Above the driver bound a 40-node path graph (diameter 39) still
    collapses to one component labelled 0, and the singleton keeps its
    own label — the distributed branch has no diameter-bound budget."""
    monkeypatch.setattr(ld, "UNION_FIND_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id_a LONG, id_b LONG"
    )
    nodes = spark.createDataFrame([(i,) for i in range(41)], "doc_id LONG")
    got = {
        r.doc_id: r.component
        for r in ld.connected_components(edges, nodes, "doc_id").collect()
    }
    assert got == {**{i: 0 for i in range(40)}, 40: 40}


def test_incremental_dedup_gate_flags(spark):
    """Exact copy of a corpus doc -> exact_dup; near-variant -> near_dup
    with high best_jaccard; novel doc -> keep."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the wall"),
         (2, "completely different corpus content about spark and parquet files")],
        "doc_id LONG, text STRING",
    )
    incoming = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog near the wall"),
         (101, "the quick brown fox jumps over the lazy dog near the door"),
         (102, "a totally novel incoming document with fresh unseen words only")],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: (r.exact_dup, r.near_dup, r.keep)
           for r in ld.incremental_dedup_gate(
               corpus, incoming, "doc_id", "text", threshold=0.5).collect()}
    assert got[100] == (1, 1, 0)   # byte-identical: exact AND near
    assert got[101][0] == 0 and got[101][1] == 1 and got[101][2] == 0
    assert got[102] == (0, 0, 1)


def test_mp4_container_roundtrip_sample_table():
    """encode -> parse recovers the exact sample table: offsets slice back
    the original payloads, pts follow the stts grid, keyframes follow the
    stss grid, and the stsc/stco chunk mapping is exercised (2 samples per
    chunk, remainder chunk included for odd counts)."""
    for n in (1, 2, 3, 7, 8):
        frames = [bytes([k]) + b"x" * (5 * k + 1) for k in range(n)]
        blob = multimodal._encode_mp4(frames, keyframe_every=2, frame_duration=3)
        table = multimodal.parse_mp4_sample_table(blob)
        assert len(table) == n
        for k, (off, size, pts, key) in enumerate(table):
            assert blob[off : off + size] == frames[k]
            assert pts == 3 * k
            assert key == (k % 2 == 0)


def test_mp4_extract_frames_selection():
    """Keyframe selection honors stss; n_frames strides evenly; the
    keyframes_only=False path returns every sample."""
    frames = [bytes([k]) * (k + 1) for k in range(8)]
    blob = multimodal._encode_mp4(frames, keyframe_every=3)
    keys = multimodal.extract_mp4_frames(blob)
    assert [i for i, _pts, _p in keys] == [0, 3, 6]
    assert [p for _i, _pts, p in keys] == [frames[0], frames[3], frames[6]]
    allf = multimodal.extract_mp4_frames(blob, keyframes_only=False)
    assert [p for _i, _pts, p in allf] == frames
    two = multimodal.extract_mp4_frames(blob, n_frames=2, keyframes_only=False)
    assert len(two) == 2 and two[0][2] == frames[0]


def test_mp4_parser_rejects_corruption():
    frames = [b"payload"]
    blob = multimodal._encode_mp4(frames)
    with pytest.raises(ValueError):
        multimodal.parse_mp4_sample_table(b"\x00\x00\x00\x10ftypisom")
    with pytest.raises(ValueError):  # truncated box tree
        multimodal.parse_mp4_sample_table(blob[: len(blob) // 2])
    with pytest.raises(ValueError):  # no moov at all
        multimodal.parse_mp4_sample_table(blob[:24])


def test_mp4_container_property_roundtrip():
    """Property: arbitrary frame counts/sizes/keyframe grids roundtrip
    through the container — every parsed (offset, size) slices back the
    exact payload and the sync grid matches keyframe_every."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(st.binary(min_size=0, max_size=40), min_size=1, max_size=12),
        st.integers(min_value=1, max_value=5),
        st.integers(min_value=1, max_value=4),
    )
    def check(frames, keyframe_every, spc):
        blob = multimodal._encode_mp4(
            frames, keyframe_every=keyframe_every, samples_per_chunk=spc
        )
        table = multimodal.parse_mp4_sample_table(blob)
        assert len(table) == len(frames)
        for k, (off, size, pts, key) in enumerate(table):
            assert blob[off : off + size] == frames[k]
            assert pts == k
            assert key == (k % keyframe_every == 0)

    check()


def test_mp4_keyframe_sampling_distributed(spark):
    """sample_keyframes demuxes real MP4 rows through Spark: payloads
    survive the Arrow transit, keyframe grid and pts are the container's,
    and non-mp4 rows fall back to chunking so mixed tables are total."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(10)
    media = multimodal.synthesize_mp4_media(docs, "doc_id", "text")
    out = multimodal.sample_keyframes(media).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append(r)
    for mid, rows in by_media.items():
        n = 3 + mid % 5
        expect_keys = [k for k in range(n) if k % 2 == 0]
        assert sorted(r.frame_index for r in rows) == expect_keys
        raw = (texts[mid] or "").encode("utf-8") or b"\x00"
        for r in rows:
            assert bytes(r.content) == bytes([r.frame_index]) + raw
            assert r.pts_ticks == r.frame_index
    # mixed-table fallback: non-container rows still produce frames
    mixed = multimodal.attach_media(docs, "doc_id", "text")
    fb = multimodal.sample_keyframes(mixed, n_frames=2).collect()
    assert len(fb) == 20 and all(r.n_bytes > 0 for r in fb)


def test_flac_codec_roundtrip_lossless():
    """decode(encode(x)) == x byte-exactly across silence, constants, ramps,
    noise, sine, multi-channel and partial-last-block shapes; compressible
    signals genuinely shrink (rice coding is real, not a wrapper)."""
    import numpy as np

    from data_pipeline_spark.llmops import flac

    rng = np.random.RandomState(7)
    t = np.arange(5000)
    cases = [
        (1, 8000, np.zeros(100, "<i2")),
        (1, 8000, np.full(257, 1234, "<i2")),
        (1, 44100, np.arange(-500, 500, dtype="<i2")),
        (1, 8000, rng.randint(-32768, 32768, 4097).astype("<i2")),
        (1, 16000, (3000 * np.sin(t / 20)).astype("<i2")),
        (2, 48000, rng.randint(-2000, 2000, 2 * 777).astype("<i2")),
        (1, 8000, np.array([5], "<i2")),
        (3, 8000, rng.randint(-100, 100, 3 * 4500).astype("<i2")),
    ]
    for ch, rate, pcm in cases:
        blob = flac.encode_flac(ch, rate, pcm.tobytes())
        assert flac.decode_flac(blob) == (ch, rate, pcm.tobytes())
    sine = (3000 * np.sin(t / 20)).astype("<i2")
    blob = flac.encode_flac(1, 16000, sine.tobytes())
    assert len(blob) < 0.3 * len(sine.tobytes())  # real compression


def test_flac_lpc_subframes_lossless_and_smaller():
    """LPC subframes (r9): Levinson-Durbin quantized predictors must (a)
    roundtrip byte-exactly — prediction is exact integer sum >> shift on
    both sides — and (b) actually beat the fixed predictors on correlated
    signals (the encoder picks by exact bit cost, so forcing LPC off can
    only grow the stream)."""
    import numpy as np

    from data_pipeline_spark.llmops import flac

    rng = np.random.RandomState(11)
    n = 9000
    t = np.arange(n)
    left = (8000 * np.sin(2 * np.pi * t / 100)
            + rng.randint(-200, 200, n)).astype("<i2")
    right = (6000 * np.sin(2 * np.pi * t / 37 + 1.0)
             + rng.randint(-100, 100, n)).astype("<i2")
    pcm = np.empty(2 * n, "<i2")
    pcm[0::2], pcm[1::2] = left, right
    raw = pcm.tobytes()

    enc = flac.encode_flac(2, 44100, raw)
    assert flac.decode_flac(enc) == (2, 44100, raw)

    # the encoded stream genuinely contains LPC subframes: re-encoding
    # with LPC analysis disabled must produce a larger stream
    orig = flac._lpc_analyze
    flac._lpc_analyze = lambda s, mo: None
    try:
        enc_fixed = flac.encode_flac(2, 44100, raw)
    finally:
        flac._lpc_analyze = orig
    assert flac.decode_flac(enc_fixed) == (2, 44100, raw)
    assert len(enc) < len(enc_fixed)

    # white noise must not regress (LPC loses the cost comparison there)
    noise = rng.randint(-32768, 32768, 5000).astype("<i2").tobytes()
    assert flac.decode_flac(flac.encode_flac(1, 16000, noise))[2] == noise


def test_flac_stereo_decorrelation_lossless_and_chosen():
    """Stereo decorrelation (r9): all four channel assignments roundtrip
    byte-exactly (the mid/side transform recovers the dropped LSB from
    side's parity; side carries 17 bits), the auto mode picks by exact
    bit cost — mid/side on correlated stereo, never worse than pinned
    independent — and mono/multichannel paths are untouched."""
    import numpy as np

    from data_pipeline_spark.llmops import flac

    rng = np.random.RandomState(23)
    n = 9000
    base = (7000 * np.sin(np.arange(n) * 0.013)
            + 2500 * np.sin(np.arange(n) * 0.0041)).astype(np.int64)
    left = np.clip(base + rng.randint(-60, 60, n), -32768, 32767)
    right = np.clip(base + rng.randint(-60, 60, n), -32768, 32767)
    pcm = np.stack([left, right], axis=1).astype("<i2").tobytes()

    sizes = {}
    for mode in ("independent", "left_side", "right_side", "mid_side", None):
        blob = flac.encode_flac(2, 44100, pcm, stereo_mode=mode)
        assert flac.decode_flac(blob) == (2, 44100, pcm), mode
        sizes[mode] = len(blob)
    # near-identical channels: the side channel is tiny, so every
    # decorrelated mode beats independent and auto picks the best
    assert sizes[None] == min(sizes.values())
    assert sizes["mid_side"] < sizes["independent"]

    # extreme samples exercise the 17-bit side range without overflow
    ext = np.array(
        [[-32768, 32767], [32767, -32768], [0, -32768], [-32768, 0]] * 700,
        "<i2",
    ).tobytes()
    for mode in ("left_side", "right_side", "mid_side", None):
        assert flac.decode_flac(
            flac.encode_flac(2, 8000, ext, stereo_mode=mode)
        )[2] == ext, mode

    # uncorrelated noise: decorrelation can't help; auto never loses to
    # pinned independent (it considers independent among the candidates)
    noise = rng.randint(-32768, 32768, (4096, 2)).astype("<i2").tobytes()
    auto = flac.encode_flac(2, 16000, noise)
    indep = flac.encode_flac(2, 16000, noise, stereo_mode="independent")
    assert flac.decode_flac(auto)[2] == noise
    assert len(auto) <= len(indep)

    with pytest.raises(ValueError):
        flac.encode_flac(1, 8000, b"\x00\x00", stereo_mode="mid_side")
    with pytest.raises(ValueError):
        flac.encode_flac(2, 8000, b"\x00" * 4, stereo_mode="banana")


def test_flac_8_and_24_bit_widths():
    """8/16/24-bit FLAC (r9): dtype='native' roundtrips bit-exactly at
    every width (MD5 verified over the native packing), the default
    int16 output normalizes like soundfile (8-bit << 8, 24-bit >> 8),
    stereo decorrelation carries the 25-bit side channel at 24-bit
    extremes, and non-spec widths refuse to encode."""
    import numpy as np

    from data_pipeline_spark.llmops import flac

    rng = np.random.RandomState(31)
    n = 6000
    base = (800_000 * np.sin(np.arange(n) * 0.011)).astype(np.int64)
    l = np.clip(base + rng.randint(-400, 400, n), -(1 << 23), (1 << 23) - 1)
    r = np.clip(base + rng.randint(-400, 400, n), -(1 << 23), (1 << 23) - 1)
    pcm24 = flac._samples_to_pcm(np.stack([l, r], 1).ravel(), 24)
    blob = flac.encode_flac(2, 48000, pcm24, bits_per_sample=24)
    assert flac.decode_flac(blob, dtype="native") == (2, 48000, pcm24, 24)
    ref16 = (np.stack([l, r], 1).ravel() >> 8).astype("<i2").tobytes()
    assert flac.decode_flac(blob) == (2, 48000, ref16)
    # 24-bit compresses: correlated content well under raw size
    assert len(blob) < len(pcm24) // 2

    s8 = rng.randint(-128, 128, 5000).astype(np.int64)
    pcm8 = flac._samples_to_pcm(s8, 8)
    blob8 = flac.encode_flac(1, 8000, pcm8, bits_per_sample=8)
    assert flac.decode_flac(blob8, dtype="native") == (1, 8000, pcm8, 8)
    assert flac.decode_flac(blob8)[2] == (s8 << 8).astype("<i2").tobytes()

    # full-scale 24-bit stereo exercises the 25-bit side channel
    ext = np.array(
        [[-(1 << 23), (1 << 23) - 1], [(1 << 23) - 1, -(1 << 23)]] * 800,
        np.int64,
    )
    pcm = flac._samples_to_pcm(ext.ravel(), 24)
    for mode in (None, "left_side", "right_side", "mid_side"):
        b = flac.encode_flac(2, 44100, pcm, bits_per_sample=24,
                             stereo_mode=mode)
        assert flac.decode_flac(b, dtype="native")[2] == pcm, mode

    # a corrupted 24-bit stream still trips MD5/CRC, not a mis-decode
    marred = bytearray(blob)
    marred[-4] ^= 0x10
    with pytest.raises(ValueError):
        flac.decode_flac(bytes(marred))

    # 12-bit went native in r9; non-spec widths still refuse
    with pytest.raises(ValueError):
        flac.encode_flac(1, 8000, b"\x00\x00", bits_per_sample=17)
    with pytest.raises(ValueError):
        flac.decode_flac(blob, dtype="float32")


def test_flac_codec_rejects_corruption():
    """Bit flips in the frame body trip CRC-16 or the STREAMINFO MD5; a
    flipped header bit trips CRC-8 or sync; garbage is not FLAC."""
    import numpy as np

    from data_pipeline_spark.llmops import flac

    pcm = np.arange(-300, 300, dtype="<i2")
    blob = bytearray(flac.encode_flac(1, 8000, pcm.tobytes()))
    with pytest.raises(ValueError):
        flac.decode_flac(b"RIFFnotflac")
    corrupted = bytearray(blob)
    corrupted[-3] ^= 0x40  # inside the last frame's payload/footer
    with pytest.raises(ValueError):
        flac.decode_flac(bytes(corrupted))
    header_hit = bytearray(blob)
    header_hit[4 + 4 + 34 + 1] ^= 0x01  # second byte of first frame header
    with pytest.raises(ValueError):
        flac.decode_flac(bytes(header_hit))


def test_flac_codec_property_roundtrip():
    """Property: arbitrary channel counts, lengths and sample contents
    roundtrip byte-exactly, including multi-block streams."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_pipeline_spark.llmops import flac

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(min_value=1, max_value=3),
        st.integers(min_value=1, max_value=700),
        st.randoms(use_true_random=False),
        st.sampled_from([64, 192, 4096]),
    )
    def check(ch, n, rnd, blocksize):
        pcm = np.asarray(
            [rnd.randrange(-32768, 32768) for _ in range(ch * n)], "<i2"
        )
        blob = flac.encode_flac(ch, 8000, pcm.tobytes(), blocksize=blocksize)
        assert flac.decode_flac(blob) == (ch, 8000, pcm.tobytes())

    check()


def test_flac_feature_and_resize_paths(spark):
    """flac registers as a native audio codec: extract_features computes
    real amplitude statistics and resize_media resamples through a real
    decode -> re-encode."""
    import numpy as np

    pcm = np.array([0, 0, -32768, 32767] * 25, "<i2")
    blob = multimodal._AUDIO_CODECS["flac"][1](1, 8000, pcm.tobytes())
    media = spark.createDataFrame(
        [(1, blob, "audio", "flac", len(blob))], schema=multimodal.MEDIA_SCHEMA
    )
    hist = multimodal.extract_features(media, buckets=16).collect()[0].features
    assert hist[8] == pytest.approx(0.5)
    assert hist[0] == pytest.approx(0.25)
    assert hist[15] == pytest.approx(0.25)
    resized = multimodal.resize_media(media, 4, 4).collect()[0]
    ch, rate, frames = multimodal.decode_audio(bytes(resized.content), "flac")
    assert (ch, rate) == (1, 8000) and len(frames) == 2 * 16


def test_jpeg_progressive_decode_matches_baseline():
    """Progressive JPEG (r9): the 9-scan SOF2 progression (interleaved DC
    first + refinement, spectral-selection AC first, AC refinement with
    EOB runs) encodes the SAME quantized coefficients as the baseline
    encoder, so decode must be PIXEL-IDENTICAL to the baseline stream's
    decode — a differential oracle with zero tolerance."""
    import struct

    import numpy as np

    rng = np.random.RandomState(41)
    cases = [
        (16, 16, 90, "444"), (21, 13, 60, "420"), (17, 9, 75, "422"),
        (8, 8, 95, "444"), (40, 40, 50, "420"), (1, 1, 90, "444"),
        (9, 24, 85, "422"), (64, 48, 70, "420"), (3, 50, 90, "420"),
    ]
    for w, h, q, sub in cases:
        rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8).tobytes()
        blob = multimodal._encode_jpeg_progressive(
            w, h, rgb, quality=q, subsampling=sub
        )
        base = multimodal._decode_jpeg(
            multimodal._encode_jpeg(w, h, rgb, quality=q, subsampling=sub)
        )
        assert multimodal._decode_jpeg(blob) == base, (w, h, q, sub)

    # the stream is structurally progressive: SOF2 marker + 9 SOS scans
    blob = multimodal._encode_jpeg_progressive(16, 16, bytes(16 * 16 * 3))
    assert b"\xff\xc2" in blob and b"\xff\xc0" not in blob.split(b"\xff\xda")[0]
    n_sos = 0
    pos = 2
    while pos + 4 <= len(blob):  # walk marker segments only
        marker = struct.unpack_from(">H", blob, pos)[0]
        if marker == 0xFFD9:
            break
        (length,) = struct.unpack_from(">H", blob, pos + 2)
        if marker == 0xFFDA:
            n_sos += 1
            # skip entropy bytes to the next marker
            pos += 2 + length
            while pos < len(blob) - 1 and not (
                blob[pos] == 0xFF and blob[pos + 1] not in (0x00, 0xFF)
            ):
                pos += 1
            continue
        pos += 2 + length
    assert n_sos == 9

    # smooth gradients (long zero runs + EOB-heavy) and near-flat content
    # (DC-dominated) exercise the run/EOB paths differently from noise
    yy, xx = np.mgrid[0:24, 0:31]
    grad = np.stack(
        [xx * 8 % 256, yy * 10 % 256, (xx + yy) * 4 % 256], axis=-1
    ).astype(np.uint8).tobytes()
    for q in (35, 90):
        base = multimodal._decode_jpeg(
            multimodal._encode_jpeg(31, 24, grad, quality=q, subsampling="420")
        )
        prog = multimodal._decode_jpeg(
            multimodal._encode_jpeg_progressive(
                31, 24, grad, quality=q, subsampling="420"
            )
        )
        assert prog == base, q


def test_jpeg_restart_intervals_decode_identically():
    """DRI/RSTn (r9): restart markers reset the DC predictors and
    byte-align the entropy stream but change no coefficients, so decode
    with any restart interval must be pixel-identical to the unmarked
    stream — for BOTH the baseline and progressive layouts (progressive
    restarts per MCU in DC scans and per block in AC scans, with EOB
    runs never crossing a boundary).  Camera JPEGs virtually always
    carry DRI, so this closes a real-world decode gap."""
    import numpy as np

    rng = np.random.RandomState(29)
    for w, h, q, sub in [(21, 13, 60, "420"), (40, 40, 80, "444"),
                         (17, 9, 75, "422")]:
        rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8).tobytes()
        ref = multimodal._decode_jpeg(
            multimodal._encode_jpeg(w, h, rgb, quality=q, subsampling=sub)
        )
        for ri in (1, 3, 7, 100):
            base = multimodal._encode_jpeg(
                w, h, rgb, quality=q, subsampling=sub, restart_interval=ri
            )
            prog = multimodal._encode_jpeg_progressive(
                w, h, rgb, quality=q, subsampling=sub, restart_interval=ri
            )
            assert multimodal._decode_jpeg(base) == ref, ("base", ri)
            assert multimodal._decode_jpeg(prog) == ref, ("prog", ri)

    # streams with ri=2 really contain DRI + cycling RSTn markers
    blob = multimodal._encode_jpeg(
        32, 32, bytes(32 * 32 * 3), restart_interval=1
    )
    assert b"\xff\xdd" in blob and b"\xff\xd0" in blob and b"\xff\xd1" in blob

    # a clobbered restart marker is a hard error, not a mis-decode
    marred = bytearray(blob)
    marred[blob.index(b"\xff\xd0") + 1] = 0xD9  # RST0 -> EOI mid-scan
    with pytest.raises(ValueError):
        multimodal._decode_jpeg(bytes(marred))


def test_jpeg_12bit_matches_8bit_pipeline_exactly():
    """12-bit JPEG (r9): SOF1 extended-sequential and 12-bit progressive
    streams with 16-bit DQT tables.  The encoder scales samples and
    quantization tables by the same 2^4, so quantized coefficients are
    bit-identical to the 8-bit plan and the 12-bit decode (level shift
    2048, exact /16 normalization commuting through the linear color
    transform) must be PIXEL-IDENTICAL to the 8-bit pipeline — another
    zero-tolerance differential, covering sequential, progressive and
    restart-marker layouts."""
    import struct

    import numpy as np

    rng = np.random.RandomState(37)
    for w, h, q, sub in [(16, 16, 90, "444"), (21, 13, 60, "420"),
                         (17, 9, 75, "422")]:
        rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8).tobytes()
        ref = multimodal._decode_jpeg(
            multimodal._encode_jpeg(w, h, rgb, quality=q, subsampling=sub)
        )
        for blob in (
            multimodal._encode_jpeg(
                w, h, rgb, quality=q, subsampling=sub, precision=12
            ),
            multimodal._encode_jpeg_progressive(
                w, h, rgb, quality=q, subsampling=sub, precision=12
            ),
            multimodal._encode_jpeg(
                w, h, rgb, quality=q, subsampling=sub, precision=12,
                restart_interval=3,
            ),
        ):
            assert multimodal._decode_jpeg(blob) == ref, (w, h, q, sub)

    # structure: SOF1 marker, 16-bit DQT (Pq=1), SOF precision byte 12
    blob = multimodal._encode_jpeg(8, 8, bytes(192), precision=12)
    assert b"\xff\xc1" in blob
    dqt = blob.index(b"\xff\xdb")
    assert blob[dqt + 4] >> 4 == 1
    sof = blob.index(b"\xff\xc1")
    assert blob[sof + 4] == 12

    # 8-bit content must not regress; SOF0 stays 8-bit-only by spec
    with pytest.raises(ValueError):
        multimodal._encode_jpeg(8, 8, bytes(192), precision=10)
    hacked = bytearray(multimodal._encode_jpeg(8, 8, bytes(192)))
    s0 = hacked.index(b"\xff\xc0")
    hacked[s0 + 4] = 12  # claim 12-bit inside SOF0
    with pytest.raises(ValueError):
        multimodal._decode_jpeg(bytes(hacked))
    # 16-bit precision keeps the PIL seam
    sixteen = (
        b"\xff\xd8" + b"\xff\xc1" + struct.pack(">H", 11)
        + struct.pack(">BHHB", 16, 1, 1, 1) + bytes([1, 0x11, 0])
        + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError):
        multimodal._decode_jpeg(sixteen)


def test_jpeg_progressive_property_differential():
    """Property: progressive decode == baseline decode over arbitrary
    shapes, qualities and subsampling modes (hypothesis-driven)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import numpy as np

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(min_value=1, max_value=33),
        st.integers(min_value=1, max_value=33),
        st.integers(min_value=0, max_value=2**31 - 1),
        st.sampled_from([30, 60, 90]),
        st.sampled_from(["444", "420", "422"]),
    )
    def check(w, h, seed, q, sub):
        rng = np.random.RandomState(seed)
        rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8).tobytes()
        base = multimodal._decode_jpeg(
            multimodal._encode_jpeg(w, h, rgb, quality=q, subsampling=sub)
        )
        prog = multimodal._decode_jpeg(
            multimodal._encode_jpeg_progressive(
                w, h, rgb, quality=q, subsampling=sub
            )
        )
        assert prog == base

    check()


def test_jpeg_chroma_subsampling_roundtrip():
    """4:2:0 / 4:2:2 encode->decode: exact on flat color and on grayscale
    gradients (chroma constant under subsampling), mean-bounded on colored
    gradients, shape-exact on odd dimensions, and genuinely smaller than
    4:4:4 on chroma-smooth content."""
    import numpy as np

    flat = bytes([77, 130, 200] * (16 * 16))
    gray = bytes(v for y in range(16) for x in range(16) for v in ((x * 16,) * 3))
    color = bytes(
        v
        for y in range(32)
        for x in range(32)
        for v in (x * 8, y * 8, ((x + y) * 4) % 256)
    )
    for mode in ("420", "422"):
        w, h, out = multimodal._decode_jpeg(
            multimodal._encode_jpeg(16, 16, flat, quality=95, subsampling=mode)
        )
        assert (w, h) == (16, 16)
        assert max(
            abs(a - b) for a, b in zip(out, flat)
        ) <= 1, f"flat {mode}"
        w, h, out = multimodal._decode_jpeg(
            multimodal._encode_jpeg(16, 16, gray, quality=95, subsampling=mode)
        )
        err = np.abs(
            np.frombuffer(out, np.uint8).astype(int)
            - np.frombuffer(gray, np.uint8).astype(int)
        )
        assert err.max() <= 4, f"gray {mode}"
        w, h, out = multimodal._decode_jpeg(
            multimodal._encode_jpeg(32, 32, color, quality=95, subsampling=mode)
        )
        err = np.abs(
            np.frombuffer(out, np.uint8).astype(int)
            - np.frombuffer(color, np.uint8).astype(int)
        )
        assert err.mean() <= 4, f"color mean {mode}"

        rng = np.random.RandomState(3)
        rgb = rng.randint(0, 256, size=(5, 13, 3), dtype=np.uint8).tobytes()
        w, h, out = multimodal._decode_jpeg(
            multimodal._encode_jpeg(13, 5, rgb, subsampling=mode)
        )
        assert (w, h, len(out)) == (13, 5, 3 * 13 * 5)

    b444 = multimodal._encode_jpeg(32, 32, color, quality=95, subsampling="444")
    b420 = multimodal._encode_jpeg(32, 32, color, quality=95, subsampling="420")
    assert len(b420) < len(b444)  # chroma blocks really dropped 4x

    with pytest.raises(ValueError):
        multimodal._encode_jpeg(8, 8, flat[: 3 * 64], subsampling="411")


def test_misra_gries_guarantee_and_lower_bounds(spark):
    """Every item above the n/(k+1) frequency threshold must survive with
    a lower-bound weight within n/(k+1) of truth — under adversarial
    partitioning (the mergeable-summaries property)."""
    from data_pipeline_spark.llmops import sketches

    rows = [("hot",)] * 3000 + [(f"noise{i}", ) for i in range(200) for _ in range(10)]
    df = spark.createDataFrame(rows, "item STRING").repartition(7)
    n, k = len(rows), 9
    out = {r.item: r.weight for r in
           sketches.misra_gries_heavy_hitters(df, "item", k=k).collect()}
    assert len(out) <= k
    assert "hot" in out  # 3000 > n/(k+1) = 500
    assert 3000 - n // (k + 1) <= out["hot"] <= 3000
    truth = {"hot": 3000, **{f"noise{i}": 10 for i in range(200)}}
    for item, w in out.items():
        assert w <= truth[item]  # weights are lower bounds, never over


def test_misra_gries_exact_configuration(spark):
    """k >= |distinct| means no pruning anywhere: the sketch equals the
    exact GROUP BY on every item."""
    from data_pipeline_spark.llmops import sketches

    docs = load_table(spark, SF_SMOKE, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("item")).repartition(5)
    exact = {
        (r.item, r.cnt)
        for r in toks.groupBy("item").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    mg = {
        (r.item, r.weight)
        for r in sketches.misra_gries_heavy_hitters(toks, "item", k=10**6).collect()
    }
    assert mg == exact


def test_gif_codec_roundtrip_and_lzw():
    """decode(encode(x)) == x for palette-sized color sets, including a
    full 256-color palette, a single pixel, and dictionary-growth-heavy
    content; >256 unique colors quantizes through deterministic
    median-cut (lossy, bounded, repeatable)."""
    import numpy as np

    rng = np.random.RandomState(11)
    pal256 = np.array([[i, 255 - i, (i * 7) % 256] for i in range(256)], np.uint8)
    cases = [
        (4, 4, bytes([10, 20, 30] * 16)),
        (3, 2, bytes(range(10, 28))),
        (16, 16, pal256[rng.randint(0, 256, size=(16, 16))].tobytes()),
        (1, 1, b"\x05\x06\x07"),
        (17, 31, (rng.randint(0, 5, size=(31, 17, 3)).astype(np.uint8) * 50).tobytes()),
    ]
    for w, h, rgb in cases:
        blob = multimodal._encode_gif(w, h, rgb)
        assert multimodal.decode_media(blob, "gif") == (w, h, rgb)

    with pytest.raises(ValueError):
        multimodal.decode_media(b"NOTGIF" + b"\x00" * 20, "gif")


def test_gif_truecolor_median_cut_quantization():
    """>256 unique colors: the encoder quantizes with deterministic
    median-cut + exact nearest mapping.  Pinned: palette <= 256, decode
    shape preserved, every decoded pixel IS a palette entry, per-pixel
    error small on a smooth gradient, and byte-identical across runs."""
    import numpy as np

    w, h = 80, 80  # 6400 px smooth gradient, ~6k unique colors
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [(xx * 255 // (w - 1)), (yy * 255 // (h - 1)), (xx + yy) * 255 // (w + h - 2)],
        axis=-1,
    ).astype(np.uint8)
    assert len(np.unique(rgb.reshape(-1, 3), axis=0)) > 256

    blob = multimodal._encode_gif(w, h, rgb.tobytes())
    w2, h2, out = multimodal.decode_media(blob, "gif")
    assert (w2, h2) == (w, h)
    dec = np.frombuffer(out, np.uint8).reshape(h, w, 3)

    pal = multimodal._median_cut_palette(rgb.reshape(-1, 3), 256)
    assert len(pal) <= 256
    pal_set = {tuple(p) for p in pal}
    assert {tuple(p) for p in dec.reshape(-1, 3)} <= pal_set
    err = np.abs(dec.astype(np.int64) - rgb.astype(np.int64))
    assert err.mean() < 8.0 and err.max() <= 64
    # determinism: same input -> byte-identical file
    assert multimodal._encode_gif(w, h, rgb.tobytes()) == blob
    # <=256 colors still roundtrips exactly (quantizer not engaged)
    small = rgb[:4, :4]
    blob2 = multimodal._encode_gif(4, 4, small.tobytes())
    assert multimodal.decode_media(blob2, "gif") == (4, 4, small.tobytes())


def test_gif_decoder_interlace_and_extensions():
    """Interlaced GIFs (an external encoder's choice) must deinterlace to
    the original rows; extension blocks (GCE etc.) are skipped and only
    the first frame of an animated file is returned."""
    import numpy as np

    rng = np.random.RandomState(5)
    w, h = 5, 13
    rgb = (rng.randint(0, 4, size=(h, w, 3)).astype(np.uint8) * 60).tobytes()
    arr = np.frombuffer(rgb, np.uint8).reshape(h, w, 3)
    order = [
        y
        for start, step in multimodal._GIF_INTERLACE_PASSES
        for y in range(start, h, step)
    ]
    blob = bytearray(multimodal._encode_gif(w, h, arr[order].tobytes()))
    pal_size = 3 * (2 << (blob[10] & 7))
    idesc = 13 + pal_size
    assert blob[idesc] == 0x2C
    blob[idesc + 9] |= 0x40  # interlace flag: rows were written pass-ordered
    assert multimodal.decode_media(bytes(blob), "gif") == (w, h, rgb)

    one = multimodal._encode_gif(2, 2, bytes([1, 2, 3] * 4))
    hdr_end = 13 + 3 * (2 << (one[10] & 7))
    gce = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])  # graphics-control ext
    ani = one[:hdr_end] + gce + one[hdr_end:]
    assert multimodal.decode_media(ani, "gif") == (2, 2, bytes([1, 2, 3] * 4))


def test_gif_codec_property_roundtrip():
    """Property: arbitrary small dimensions and palette-bounded pixel
    content roundtrip exactly through the LZW path."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=1, max_value=9),
        st.randoms(use_true_random=False),
    )
    def check(w, h, rnd):
        # <= 8 distinct colors so any w*h stays palette-bounded
        palette = [(rnd.randrange(256), rnd.randrange(256), rnd.randrange(256))
                   for _ in range(8)]
        rgb = bytes(
            v for _ in range(w * h) for v in palette[rnd.randrange(8)]
        )
        blob = multimodal._encode_gif(w, h, rgb)
        assert multimodal.decode_media(blob, "gif") == (w, h, rgb)

    check()


def test_sq_dists_bit_identical_to_broadcast_form():
    """The r12 plane-combined squared-distance fast path must reproduce
    the broadcast ``((xs[:,None,:]-cent[None,:,:])**2).sum(axis=2)`` form
    BIT-FOR-BIT (float addition is non-associative — the combine tree
    replicates numpy's pairwise order for an 8-wide axis): every PQ
    codebook, code and ADC ranking derives from these distances, and the
    driver hash-checks outputs downstream of them.  Covers the sub=8
    fast path, the non-8 fallback, and adversarial near-tie values."""
    import numpy as np

    from data_pipeline_spark.llmops.pq import _sq_dists

    rng = np.random.default_rng(7)
    for n, k, sub in ((513, 64, 8), (64, 3, 8), (100, 16, 4), (1, 1, 8)):
        xs = rng.standard_normal((n, sub))
        cent = rng.standard_normal((k, sub))
        ref = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assert np.array_equal(_sq_dists(xs, cent), ref)
    # near-tie adversarial: tiny perturbations around shared centroids
    xs = np.repeat(rng.standard_normal((4, 8)), 32, axis=0)
    xs += rng.standard_normal(xs.shape) * 1e-12
    cent = xs[:16].copy()
    ref = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    got = _sq_dists(xs, cent)
    assert np.array_equal(got, ref)
    assert np.array_equal(got.argmin(axis=1), ref.argmin(axis=1))


def test_driver_centroid_rows_bit_identical(spark):
    """driver_centroid_rows (quantized centroid rows computed on the
    driver from the k-means matrix) must equal quantized_centroid_rows
    (the _qvec/quantized_norm_sq Spark expressions over the same
    createDataFrame) FIELD-FOR-FIELD — every ANN assignment, probe
    selection and ADC add-back keys off these integers.  Adversarial
    values included: exact halves at the quantization step, the
    0.49999999999999994 shortest-repr band, negatives, zeros."""
    import numpy as np

    rng = np.random.default_rng(11)
    cent = rng.standard_normal((6, 8))
    cent[1] = 0.0  # zero centroid: c_q zeros, c_n 0
    cent[2, 0] = 0.5 / 1e6  # exact half after scaling
    cent[2, 1] = -0.5 / 1e6
    cent[2, 2] = 0.49999999999999994 / 1e6  # HALF_UP vs floor(+0.5) band
    cent[2, 3] = 1.5 / 1e6
    cent[2, 4] = -2.5 / 1e6

    cdf = spark.createDataFrame(
        [(i, [float(v) for v in cent[i]]) for i in range(len(cent))],
        "list_id INT, c_vec ARRAY<DOUBLE>",
    )
    via_spark = similarity.quantized_centroid_rows(cdf, with_vec=True)
    via_driver = similarity.driver_centroid_rows(cent, with_vec=True)
    assert len(via_spark) == len(via_driver)
    for s, d in zip(via_spark, via_driver):
        assert s.list_id == d.list_id
        assert list(s.c_q) == list(d.c_q)
        assert s.c_n == d.c_n
        assert list(s.c_vec) == list(d.c_vec)


def test_ivfpq_driver_sample_assignment_parity(spark):
    """The r12 driver-side training-sample assignment
    (similarity.assign_rows_ndarray over the collected md5-ordered
    sample) must produce the SAME list_ids as mapping the
    ivf_assign_col Arrow UDF over the same rows — codebooks, codes and
    every ADC ranking derive from these assignments, and the driver
    hash-checks outputs downstream of them.  Covers real corpus
    vectors plus the degenerate rows of the kernel contract (zero-norm
    vector, NaN element)."""
    import numpy as np

    emb = load_table(spark, SF_SMOKE, "embeddings")
    centroids = similarity.ivf_centroids(emb, "vec_id", "embedding", 8, 10, 256)
    cq_rows = similarity.quantized_centroid_rows(centroids, with_vec=True)

    rows = (
        emb.select(
            F.col("embedding").alias("v"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h")
        .limit(64)
        .collect()
    )
    x = np.asarray([r.v for r in rows], np.float64)
    driver = similarity.assign_rows_ndarray(x, cq_rows)

    sample_df = (
        emb.select(
            "vec_id",
            "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h")
        .limit(64)
    )
    via_udf = {
        r.vec_id: r.list_id
        for r in sample_df.select(
            "vec_id",
            "h",
            similarity.ivf_assign_col(cq_rows, F.col("embedding")).alias(
                "list_id"
            ),
        ).collect()
    }
    ordered_ids = [
        r.vec_id
        for r in sample_df.select("vec_id").collect()
    ]
    assert [via_udf[i] for i in ordered_ids] == list(driver)

    # degenerate rows: zero-norm -> list 0; NaN element -> list 0
    weird = np.zeros((2, len(x[0])), np.float64)
    weird[1, 3] = np.nan
    got = similarity.assign_rows_ndarray(weird, cq_rows)
    assert list(got) == [cq_rows[0].list_id, cq_rows[0].list_id]


def test_pq_recall_and_lossless_exactness(spark):
    """PQ ADC shortlist + exact re-rank: recall@10 >= 0.9 vs brute force
    at the DEFAULT config (m=8, 64 centroids, 20*k re-rank depth —
    measures 1.0 here); the lossless-codebook limit reproduces the
    brute-force result EXACTLY (ids, ranks and cosine bits), certifying
    train/encode/ADC/re-rank end to end."""
    from data_pipeline_spark.llmops import pq

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, queries, id_col="vec_id", k=10)
    ex_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    approx = pq.pq_topk(emb, queries, k=10)
    ap_pairs = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(ap_pairs & ex_pairs) / len(ex_pairs) >= 0.9

    books = pq.pq_train(emb, m=8, n_centroids=None, sample=10**6)
    lossless = pq.pq_topk(emb, queries, k=10, m=8, shortlist=50, codebooks=books)
    got = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in lossless.collect()}
    want = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in exact.collect()}
    assert got == want


def test_pq_encode_shape_and_determinism(spark):
    """Codes are m small integers per vector (the 32x compression claim)
    and encoding is deterministic across runs."""
    from data_pipeline_spark.llmops import pq

    emb = load_table(spark, SF_SMOKE, "embeddings")
    books = pq.pq_train(emb, m=8, n_centroids=16)
    assert books.shape[0] == 8 and books.shape[2] == 8  # 64 dims / 8
    codes = pq.pq_encode(emb, books).collect()
    assert all(len(r.codes) == 8 for r in codes)
    assert all(0 <= c < books.shape[1] for r in codes for c in r.codes)
    again = {r.id: tuple(r.codes) for r in pq.pq_encode(emb, books).collect()}
    assert {r.id: tuple(r.codes) for r in codes} == again


def test_ivfpq_recall_and_double_exactness(spark):
    """IVF-PQ: recall@10 >= 0.8 at the DEFAULT pruned config (residual
    codes, n_probe=24/64, 20*k re-rank depth — measures 0.80 on this
    uniform-sphere corpus, the adversarial routing geometry); the double
    exactness limit (probe every list + lossless residual codebooks)
    reproduces brute force bit-for-bit, certifying the composition end
    to end."""
    from data_pipeline_spark.llmops import pq

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, queries, id_col="vec_id", k=10)
    ex_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    pruned = pq.ivfpq_topk(emb, queries, k=10)
    pr_pairs = {(r.query_id, r.neighbor_id) for r in pruned.collect()}
    assert len(pr_pairs & ex_pairs) / len(ex_pairs) >= 0.8

    full = pq.ivfpq_topk(
        emb, queries, k=10, n_lists=16, n_probe=16,
        n_centroids=None, sample=10**6,
    )
    got = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in full.collect()}
    want = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in exact.collect()}
    assert got == want


def test_tiff_codec_roundtrip_and_variants():
    """Strip-based TIFF: the two-strip encoder roundtrips exactly; a
    hand-built big-endian grayscale file decodes with channel replication;
    compressed TIFF routes to the PIL seam."""
    import struct

    import numpy as np

    rng = np.random.RandomState(3)
    for w, h in ((1, 1), (3, 2), (13, 5), (8, 31)):
        rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8).tobytes()
        blob = multimodal._encode_tiff(w, h, rgb)
        assert multimodal.decode_media(blob, "tiff") == (w, h, rgb)

    # big-endian (MM) single-strip grayscale, built by hand: an external
    # writer's layout, not ours
    w, h = 3, 2
    gray = bytes([10, 20, 30, 40, 50, 60])
    entries = []

    def entry(tag, ttype, count, value):
        entries.append(struct.pack(">HHII", tag, ttype, count, value))

    data_off = 8 + 2 + 12 * 7 + 4
    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(258, 3, 1, 8 << 16)   # SHORT packs into the value field's
    entry(259, 3, 1, 1 << 16)   # leading bytes under big-endian layout
    entry(273, 4, 1, data_off)
    entry(277, 3, 1, 1 << 16)
    entry(279, 4, 1, len(gray))
    blob = (
        struct.pack(">2sHI", b"MM", 42, 8)
        + struct.pack(">H", 7)
        + b"".join(entries)
        + struct.pack(">I", 0)
        + gray
    )
    expect = b"".join(bytes([v, v, v]) for v in gray)
    assert multimodal.decode_media(blob, "tiff") == (w, h, expect)

    jpg = bytearray(multimodal._encode_tiff(2, 2, bytes(12)))
    idx = jpg.find(struct.pack("<HHI", 259, 3, 1))
    jpg[idx + 8] = 7  # compression = JPEG-in-TIFF: still the PIL seam
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(bytes(jpg), "tiff")
    with pytest.raises(ValueError):
        multimodal.decode_media(b"XX" + bytes(20), "tiff")


def _tiff_le(entries_spec, trailer: bytes) -> bytes:
    """Little-endian single-IFD TIFF from (tag, type, count, value)
    4-byte-value entries plus raw trailing bytes at a known offset."""
    import struct

    n = len(entries_spec)
    blob = struct.pack("<2sHI", b"II", 42, 8) + struct.pack("<H", n)
    for tag, ttype, count, value in entries_spec:
        blob += struct.pack("<HHII", tag, ttype, count, value)
    blob += struct.pack("<I", 0)
    return blob + trailer


def test_tiff_whiteiszero_palette_and_planar_decode():
    """r9: the three layouts that previously routed to the PIL seam now
    decode natively — WhiteIsZero grayscale inverts, palette images map
    through the 16-bit ColorMap (>> 8), and planar RGB reassembles the
    RRR..GGG..BBB planes; photometrics beyond gray/RGB/palette (CMYK,
    YCbCr) still raise."""
    import struct

    import numpy as np

    # WhiteIsZero grayscale: 0 must decode as white
    w, h = 3, 2
    gray = bytes([0, 64, 128, 192, 255, 10])
    hdr = 8 + 2 + 12 * 8 + 4
    ents = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 0), (273, 4, 1, hdr), (277, 3, 1, 1),
        (279, 4, 1, len(gray)),
    ]
    got = multimodal.decode_media(_tiff_le(ents, gray), "tiff")
    expect = b"".join(bytes([255 - v] * 3) for v in gray)
    assert got == (w, h, expect)

    # palette: indices map through a 3*256 SHORT ColorMap, 16 -> 8 bit
    idxs = bytes([0, 1, 2, 255, 1, 0])
    cmap = np.zeros(3 * 256, np.uint16)
    cmap[0:256] = np.arange(256) * 257       # R ramp (v*257 >> 8 == v)
    cmap[256:512] = (255 - np.arange(256)) * 257  # G inverse ramp
    cmap[512:768] = 7 * 257                  # B constant
    hdr = 8 + 2 + 12 * 9 + 4
    cmap_off = hdr + len(idxs)
    ents = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 3), (273, 4, 1, hdr), (277, 3, 1, 1),
        (279, 4, 1, len(idxs)), (320, 3, 768, cmap_off),
    ]
    got = multimodal.decode_media(
        _tiff_le(ents, idxs + cmap.astype("<u2").tobytes()), "tiff"
    )
    expect = b"".join(bytes([i, 255 - i, 7]) for i in idxs)
    assert got == (w, h, expect)

    # planar RGB: three full planes, one strip each
    rgb = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    planes = rgb.transpose(2, 0, 1).tobytes()  # RRR.. GGG.. BBB..
    hdr = 8 + 2 + 12 * 9 + 4
    strip_tbl_off = hdr + len(planes)
    ents = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 2), (273, 4, 3, strip_tbl_off), (277, 3, 1, 3),
        (279, 4, 3, strip_tbl_off + 12), (284, 3, 1, 2),
    ]
    strip_offsets = struct.pack("<3I", hdr, hdr + w * h, hdr + 2 * w * h)
    strip_counts = struct.pack("<3I", w * h, w * h, w * h)
    got = multimodal.decode_media(
        _tiff_le(ents, planes + strip_offsets + strip_counts), "tiff"
    )
    assert got == (w, h, rgb.tobytes())

    # YCbCr (6) still routes to the seam
    hdr = 8 + 2 + 12 * 8 + 4
    ents = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 6), (273, 4, 1, hdr), (277, 3, 1, 1),
        (279, 4, 1, len(gray)),
    ]
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(_tiff_le(ents, gray), "tiff")


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Test-local TIFF LZW encoder (MSB-first, early width change: the
    decoder's width grows when its next free code hits 2^w - 1, so the
    encoder grows when ITS next free code hits 2^w — one entry ahead).
    Emits Clear at table exhaustion (4094) per TIFF6."""
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
            acc &= (1 << nbits) - 1

    table = {bytes([i]): i for i in range(256)}
    nxt, width = 258, 9
    emit(256, width)
    s = b""
    for ch in data:
        c = bytes([ch])
        if s + c in table:
            s += c
            continue
        emit(table[s], width)
        table[s + c] = nxt
        nxt += 1
        if nxt == (1 << width) and width < 12:
            width += 1
        s = c
        if nxt == 4094:
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            nxt, width = 258, 9
    if s:
        emit(table[s], width)
    emit(257, width)
    if nbits:
        emit(0, 8 - nbits)
    return bytes(out)


def test_tiff_compressed_strips_decode():
    """r9: LZW / deflate / PackBits strips and the horizontal predictor
    decode natively.  The LZW decoder is pinned against a HAND-COMPUTED
    9-bit stream (independent of any encoder), deflate against stdlib
    zlib output, PackBits against a hand-built run layout; a width-
    crossing LZW roundtrip and predictor+deflate compose on real images.
    JPEG-in-TIFF still routes to the PIL seam."""
    import struct
    import zlib

    import numpy as np

    # hand-computed LZW: codes 256,65,258,65,257 @9 bits <=> b"AAAA"
    bits = 0
    for code in (256, 65, 258, 65, 257):
        bits = (bits << 9) | code
    stream = (bits << 3).to_bytes(6, "big")  # 45 bits + 3 pad
    assert multimodal._tiff_lzw_decode(stream) == b"AAAA"

    # roundtrip across the 511/1023 width changes and a mid-stream Clear
    rng = np.random.RandomState(6)
    blob = rng.randint(0, 8, 20000).astype(np.uint8).tobytes()  # compressible
    assert multimodal._tiff_lzw_decode(_tiff_lzw_encode(blob)) == blob

    # PackBits: literals + runs + the 128 no-op
    pb = bytes([2, 10, 20, 30, 0x80, 0xFE, 7, 0, 99])  # 3 lit, nop, 3x7, 1 lit
    assert multimodal._tiff_unpackbits(pb) == bytes([10, 20, 30, 7, 7, 7, 99])

    # full files: same pixel content through all three codecs + predictor
    w, h = 9, 5
    rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    raw = rgb.tobytes()
    diffed = np.diff(
        rgb.astype(np.int16), axis=1, prepend=np.zeros((h, 1, 3), np.int16)
    ).astype(np.uint8).tobytes()  # first pixel raw, rest horizontal deltas
    cases = [
        (5, _tiff_lzw_encode(raw), 1, raw),
        (8, zlib.compress(raw), 1, raw),
        (32773, raw, 1, None),  # PackBits all-literal runs built below
        (8, zlib.compress(diffed), 2, raw),  # deflate + horizontal predictor
    ]
    # build the PackBits strip: chunks of <=128 literal bytes
    pb_strip = b"".join(
        bytes([len(raw[i : i + 128]) - 1]) + raw[i : i + 128]
        for i in range(0, len(raw), 128)
    )
    cases[2] = (32773, pb_strip, 1, raw)
    for comp, strip, pred, expect in cases:
        hdr = 8 + 2 + 12 * 9 + 4
        ents = [
            (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8),
            (259, 3, 1, comp), (262, 3, 1, 2), (273, 4, 1, hdr),
            (277, 3, 1, 3), (279, 4, 1, len(strip)), (317, 3, 1, pred),
        ]
        got = multimodal.decode_media(_tiff_le(ents, strip), "tiff")
        assert got == (w, h, expect), (comp, pred)

    # JPEG-in-TIFF (compression 7) keeps the seam
    ents = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8), (259, 3, 1, 7),
        (273, 4, 1, 0), (277, 3, 1, 3), (279, 4, 1, 1),
    ]
    hdr = 8 + 2 + 12 * 7 + 4
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(_tiff_le(ents, b"\x00"), "tiff")


def test_count_min_sketch_linearity_and_overestimate(spark):
    """CM is linear: the sketch of a stream equals the elementwise sum of
    the sketches of any split, and is invariant under repartitioning (the
    distributed build is EXACT, not approximate).  Point estimates never
    undercount; estimates of absent items are bounded by collisions
    (zero when their slots are untouched)."""
    from data_pipeline_spark.llmops import sketches

    rows = (
        [("hot",)] * 500
        + [(f"mid{i}",) for i in range(30) for _ in range(20)]
        + [(f"tail{i}",) for i in range(400)]
        + [(None,)] * 10
    )
    df = spark.createDataFrame(rows, "item STRING")

    def as_map(sk):
        return {(r.d, r.slot): r.cnt for r in sk.collect()}

    base = as_map(sketches.count_min_sketch(df, "item", width=256, depth=4))
    repart = as_map(
        sketches.count_min_sketch(df.repartition(13), "item", 256, 4)
    )
    assert base == repart  # merge-tree independence (exact linearity)

    # linearity on a disjoint split of the same rows
    a = spark.createDataFrame(rows[:700], "item STRING")
    b = spark.createDataFrame(rows[700:], "item STRING")
    sa, sb = (
        as_map(sketches.count_min_sketch(x, "item", 256, 4)) for x in (a, b)
    )
    summed: dict = {}
    for m in (sa, sb):
        for k, v in m.items():
            summed[k] = summed.get(k, 0) + v
    assert summed == base

    # estimates never undercount; nulls excluded from the stream
    sk = sketches.count_min_sketch(df, "item", 256, 4)
    truth = {"hot": 500, "mid3": 20, "tail7": 1}
    items = spark.createDataFrame([(k,) for k in truth], "item STRING")
    est = {
        r.item: r.cms_est
        for r in sketches.cms_estimates(sk, items, "item", 256, 4).collect()
    }
    n_total = 500 + 600 + 400  # nulls excluded
    for k, n in truth.items():
        assert est[k] >= n, k
        assert est[k] <= n + n_total  # trivial cap; sharper checked below
    # width >> stream keeps the heavy item's estimate exact here
    wide = sketches.count_min_sketch(df, "item", 1 << 16, 4)
    est_w = sketches.cms_estimates(
        wide, items, "item", 1 << 16, 4
    ).collect()
    assert {r.item: r.cms_est for r in est_w}["hot"] == 500


def test_misra_gries_by_group_guarantee_and_exactness(spark):
    """Per-group: each group's heavy item (freq > n_g/(k+1)) survives
    with a lower-bound weight under adversarial partitioning; the exact
    configuration equals per-group GROUP BY on every item."""
    from data_pipeline_spark.llmops import sketches

    rows = [("a", "hot")] * 900 + [("a", f"n{i}") for i in range(60) for _ in range(5)]
    rows += [("b", "warm")] * 400 + [("b", f"m{i}") for i in range(80) for _ in range(2)]
    df = spark.createDataFrame(rows, "g STRING, item STRING").repartition(7)
    out = {}
    for r in sketches.misra_gries_by_group(df, "g", "item", k=9).collect():
        out[(r.g, r.item)] = r.weight
    assert ("a", "hot") in out and ("b", "warm") in out
    n_a = 900 + 300
    assert 900 - n_a // 10 <= out[("a", "hot")] <= 900
    truth = {}
    for g, it in rows:
        truth[(g, it)] = truth.get((g, it), 0) + 1
    for key, w in out.items():
        assert w <= truth[key]  # lower bounds per group

    exact = {
        (r.g, r.item, r.cnt)
        for r in df.groupBy("g", "item").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    mg = {
        (r.g, r.item, r.weight)
        for r in sketches.misra_gries_by_group(df, "g", "item", k=10**6).collect()
    }
    assert mg == exact


def test_duplicate_span_stats_semantics(spark):
    """Crafted corpus pins the span rules: overlapping duplicated windows
    merge into one maximal span; within-doc repetition alone is NOT
    flagged (inter-document definition); clean docs zero-fill."""
    from data_pipeline_spark.llmops.dedup import duplicate_span_stats

    shared = "a b c d e f g h i j"          # 10 tokens shared verbatim
    rows = [
        (1, shared + " unique1 tail1 x1 y1"),
        (2, "lead2 " + shared + " unique2"),
        (3, "p q r p q r p q r p q r p q r p q r p q r p q r"),  # self-repeat only
        (4, "entirely clean document with no duplicated window at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens)
        for r in duplicate_span_stats(df, "doc_id", "text", n=8).collect()
    }
    # doc 1: shared tokens 0..9 -> three overlapping 8-gram starts (0,1,2)
    # merge to ONE span covering 10 tokens
    assert got[1] == (14, 1, 10)
    # doc 2: same passage at offset 1 -> same single 10-token span
    assert got[2] == (12, 1, 10)
    # doc 3: 8-grams repeat within the doc but occur in no OTHER doc
    assert got[3] == (24, 0, 0)
    assert got[4] == (9, 0, 0)


def test_duplicate_span_stats_disjoint_spans(spark):
    """Two copied passages separated by unique text count as two spans."""
    from data_pipeline_spark.llmops.dedup import duplicate_span_stats

    s1 = "a1 a2 a3 a4 a5 a6 a7 a8"
    s2 = "b1 b2 b3 b4 b5 b6 b7 b8"
    rows = [
        (1, s1 + " gapx gapy gapz " + s2),
        (2, s1 + " other filler words entirely " + s2),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r.doc_id: (r.n_dup_spans, r.dup_tokens)
        for r in duplicate_span_stats(df, "doc_id", "text", n=8).collect()
    }
    assert got[1] == (2, 16)
    assert got[2] == (2, 16)


def test_leakage_safe_split_cluster_cohesion(spark):
    """The split's defining property: every member of a near-dup cluster
    lands on the SAME side (leakage is impossible by construction), the
    assignment is a pure function of the component id (re-runs and
    repartitioning cannot move documents), and all three splits are
    non-empty at sf0.001 with train the large majority."""
    from data_pipeline_spark.queries_llm import leakage_safe_split

    got = leakage_safe_split(spark, SF_SMOKE)
    rows = got.collect()
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r.component, set()).add(r.split)
    # cohesion: one split per component
    assert all(len(s) == 1 for s in by_comp.values())
    # determinism: a second run assigns identically
    again = {r.doc_id: r.split for r in leakage_safe_split(spark, SF_SMOKE).collect()}
    assert {r.doc_id: r.split for r in rows} == again
    # 90/5/5 by cluster hash: train dominates, nothing empty
    from collections import Counter

    frac = Counter(r.split for r in rows)
    n = len(rows)
    assert set(frac) == {"train", "val", "test"}
    assert frac["train"] / n > 0.75
    # near-dup members share the split even when their doc_ids hash apart:
    # every multi-doc component is a real constraint the naive per-doc
    # hash would violate for SOME member pair somewhere in the corpus
    multi = [c for c, _ in by_comp.items() if sum(1 for r in rows if r.component == c) > 1]
    assert multi, "sf0.001 corpus is expected to contain near-dup clusters"


def test_doc_chunking_windows_and_overlap(spark):
    """Chunk boundary semantics: short docs yield one chunk, stride-40/
    size-50 windows overlap by 10 tokens, the tail chunk carries the
    remainder, and chunk identities are deterministic."""
    from data_pipeline_spark.queries_llm import doc_chunking  # noqa: F401
    from data_pipeline_spark.queries import QUERIES

    words90 = " ".join(f"w{i}" for i in range(90))
    df = spark.createDataFrame(
        [(1, "tiny doc"), (2, words90)], "doc_id LONG, text STRING"
    )
    df.createOrReplaceTempView("__chunk_src")
    # drive the same expression tree the catalog query uses
    import data_pipeline_spark.queries_llm as qllm
    from pyspark.sql import functions as F2

    size, stride = 50, 40
    toks = F2.split(F2.col("text"), " ")
    out = (
        df.select(
            "doc_id",
            toks.alias("toks"),
            F2.sequence(
                F2.lit(0),
                F2.floor((F2.size(toks) - 1) / F2.lit(stride)).cast("int"),
            ).alias("starts"),
        )
        .select("doc_id", F2.posexplode("starts").alias("chunk_idx", "__s"), "toks")
        .select(
            "doc_id",
            "chunk_idx",
            F2.array_join(
                F2.slice(F2.col("toks"), F2.col("chunk_idx") * stride + 1, size), " "
            ).alias("chunk_text"),
        )
        .collect()
    )
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r.chunk_text
    assert by_doc[1] == {0: "tiny doc"}
    assert sorted(by_doc[2]) == [0, 1, 2]
    c0, c1, c2 = (by_doc[2][i].split(" ") for i in range(3))
    assert c0 == [f"w{i}" for i in range(50)]
    assert c1 == [f"w{i}" for i in range(40, 90)]
    assert c2 == [f"w{i}" for i in range(80, 90)]
    # 10-token overlap between consecutive windows
    assert c0[-10:] == c1[:10]


def test_jpeg_arithmetic_differential_and_integration():
    """Sequential arithmetic JPEG (SOF9): the QM coder transmits the SAME
    quantized coefficients as the Huffman encoder, so decode must be
    pixel-IDENTICAL (zero tolerance) across shapes, qualities,
    subsampling modes and restart intervals; the arithmetic stream is
    also consistently smaller (the documented ~10-25% SOF9 advantage);
    and decode_media dispatches SOF9 streams natively."""
    import numpy as np

    from data_pipeline_spark.llmops import multimodal
    from data_pipeline_spark.llmops.jpeg_arith import (
        decode_jpeg_arithmetic,
        encode_jpeg_arithmetic,
    )

    rng = np.random.default_rng(3)
    for (w, h, q, sub, ri) in [
        (16, 16, 90, "444", 0),
        (24, 16, 75, "420", 0),
        (21, 13, 60, "420", 0),  # the non-MCU-aligned shape from r8's flag
        (32, 24, 85, "422", 2),
        (8, 8, 50, "444", 0),
        (64, 48, 90, "420", 3),
    ]:
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        base = (x * 7 + y * 13) % 256
        rgb = (
            np.stack([base, 255 - base, (base * 2) % 256], axis=-1) % 256
        ).astype(np.int32)
        rgb = ((rgb + rng.integers(0, 30, rgb.shape)) % 256).astype(np.uint8)
        blob_h = multimodal._encode_jpeg(
            w, h, rgb.tobytes(), q, sub, restart_interval=ri
        )
        blob_a = encode_jpeg_arithmetic(
            w, h, rgb.tobytes(), q, sub, restart_interval=ri
        )
        assert multimodal._decode_jpeg(blob_h) == decode_jpeg_arithmetic(
            blob_a
        ), f"{w}x{h} q{q} {sub} ri{ri}: arithmetic decode diverges"
        assert len(blob_a) < len(blob_h), "SOF9 should beat Huffman size"
        # decode_media dispatches on the SOF9 marker
        assert multimodal.decode_media(blob_a, "jpeg") == decode_jpeg_arithmetic(
            blob_a
        )


def test_qm_coder_pair_roundtrip_deterministic():
    """The QM arithmetic coder pair roundtrips adversarial decision
    streams exactly — exercises carry resolution, 0xFF stuffing, stacked
    bytes, conditional exchange and the full 113-state estimation walk."""
    import random

    from data_pipeline_spark.llmops.jpeg_arith import QMDecoder, QMEncoder

    random.seed(13)
    for n_ctx, n, pbias in [
        (1, 1, 0.5), (1, 50000, 0.5), (3, 20000, 0.01),
        (16, 20000, 0.99), (64, 5000, 0.1), (2, 7, 0.9),
    ]:
        bits = [1 if random.random() < pbias else 0 for _ in range(n)]
        ctxs = [random.randrange(n_ctx) for _ in range(n)]
        enc = QMEncoder()
        st_e = bytearray(n_ctx)
        for b, cx in zip(bits, ctxs):
            enc.code(st_e, cx, b)
        data = enc.flush()
        dec = QMDecoder(data)
        st_d = bytearray(n_ctx)
        assert [dec.decode(st_d, cx) for cx in ctxs] == bits
        assert st_e == st_d  # estimation walks stayed in lockstep


def test_jpeg_progressive_arithmetic_differential():
    """Progressive arithmetic JPEG (SOF10): the 9-scan successive-
    approximation progression through the QM coder must reconstruct
    pixel-identical output to the baseline Huffman decode (identical
    quantized coefficients), and decode_media dispatches SOF10."""
    import numpy as np

    from data_pipeline_spark.llmops import multimodal
    from data_pipeline_spark.llmops.jpeg_arith import (
        decode_jpeg_arithmetic_progressive,
        encode_jpeg_arithmetic_progressive,
    )

    rng = np.random.default_rng(5)
    for (w, h, q, sub) in [
        (24, 16, 75, "420"),
        (21, 13, 60, "420"),
        (32, 24, 85, "422"),
        (1, 1, 95, "420"),
    ]:
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        base = (x * 7 + y * 13) % 256
        rgb = (
            np.stack([base, 255 - base, (base * 2) % 256], axis=-1) % 256
        ).astype(np.int32)
        rgb = ((rgb + rng.integers(0, 30, rgb.shape)) % 256).astype(np.uint8)
        blob_p = encode_jpeg_arithmetic_progressive(
            w, h, rgb.tobytes(), q, sub
        )
        ref = multimodal._decode_jpeg(
            multimodal._encode_jpeg(w, h, rgb.tobytes(), q, sub)
        )
        assert decode_jpeg_arithmetic_progressive(blob_p) == ref
        assert multimodal.decode_media(blob_p, "jpeg") == ref


def test_flac_all_spec_widths_roundtrip():
    """12/20/32-bit FLAC (completing the spec width set): dtype='native'
    roundtrips byte-exactly — MD5 verified over the native container
    packing (2 bytes for 12-bit, 3 for 20-bit, 4 for 32-bit) — and the
    int16 path normalizes by shift like soundfile; out-of-range samples
    for the sub-container widths raise rather than wrap."""
    import numpy as np
    import pytest as _pytest

    from data_pipeline_spark.llmops import flac

    rng = np.random.RandomState(3)
    for bits, ch in [(12, 1), (12, 2), (20, 2), (32, 2)]:
        n = 2000
        lim = 1 << (bits - 1)
        s = rng.randint(-lim, lim, size=n * ch).astype(np.int64)
        s = np.cumsum(s // 7) % (2 * lim) - lim  # correlated: LPC engages
        pcm = flac._samples_to_pcm(s, bits)
        blob = flac.encode_flac(
            ch, 44100, pcm, blocksize=512, bits_per_sample=bits
        )
        c2, r2, native, b2 = flac.decode_flac(blob, dtype="native")
        assert (c2, r2, b2) == (ch, 44100, bits)
        assert native == pcm
        _c, _r, i16 = flac.decode_flac(blob)
        want = s << 4 if bits == 12 else s >> (bits - 16)
        assert i16 == want.astype("<i2").tobytes()
    # sub-container range check: a 13-bit value in a "12-bit" stream
    bad = np.array([4096], dtype=np.int64)
    with _pytest.raises(ValueError):
        flac.encode_flac(
            1, 8000, bad.astype("<i2").tobytes(), bits_per_sample=12
        )


def test_tiff_tiled_layouts_decode():
    """r9: tiled TIFFs (tags 322-325) decode natively — chunky RGB with
    edge-padding tiles cropped, deflate-compressed tiles with the
    horizontal predictor undone PER TILE (it resets at tile-row width,
    not image width), and planar tiled RGB reassembled from per-plane
    tile sequences."""
    import struct
    import zlib

    import numpy as np

    w, h, tw, tl = 5, 3, 3, 2  # 2x2 tile grid with right+bottom padding
    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)

    def tiles_of(img, csp):
        out = []
        for ty0 in range(0, h, tl):
            for tx0 in range(0, w, tw):
                t = np.zeros((tl, tw, csp), np.uint8)
                part = img[ty0 : ty0 + tl, tx0 : tx0 + tw]
                t[: part.shape[0], : part.shape[1]] = part
                out.append(t)
        return out

    def build(ents_extra, tile_blobs, n_base_entries):
        hdr = 8 + 2 + 12 * n_base_entries + 4
        offs, pos = [], hdr
        for b in tile_blobs:
            offs.append(pos)
            pos += len(b)
        tbl_off = pos
        trailer = b"".join(tile_blobs)
        trailer += struct.pack(f"<{len(offs)}I", *offs)
        trailer += struct.pack(
            f"<{len(tile_blobs)}I", *[len(b) for b in tile_blobs]
        )
        ents = [
            (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8),
            (262, 3, 1, 2), (277, 3, 1, 3),
            (322, 4, 1, tw), (323, 4, 1, tl),
            (324, 4, len(offs), tbl_off),
            (325, 4, len(offs), tbl_off + 4 * len(offs)),
        ] + ents_extra
        assert len(ents) == n_base_entries
        return _tiff_le(sorted(ents), trailer)

    # chunky uncompressed tiles
    blobs = [t.tobytes() for t in tiles_of(rgb, 3)]
    got = multimodal.decode_media(
        build([(259, 3, 1, 1)], blobs, 10), "tiff"
    )
    assert got == (w, h, rgb.tobytes())

    # deflate + horizontal predictor, undone per tile
    def pred_diff(t):
        d = t.astype(np.int16)
        d[:, 1:] = d[:, 1:] - d[:, :-1]
        return (d % 256).astype(np.uint8)

    blobs = [zlib.compress(pred_diff(t).tobytes()) for t in tiles_of(rgb, 3)]
    got = multimodal.decode_media(
        build([(259, 3, 1, 8), (317, 3, 1, 2)], blobs, 11), "tiff"
    )
    assert got == (w, h, rgb.tobytes())

    # planar tiled: all tiles of R, then G, then B
    blobs = []
    for p in range(3):
        blobs += [t.tobytes() for t in tiles_of(rgb[:, :, p : p + 1], 1)]
    got = multimodal.decode_media(
        build([(259, 3, 1, 1), (284, 3, 1, 2)], blobs, 11), "tiff"
    )
    assert got == (w, h, rgb.tobytes())


def test_tiff_cmyk_decode():
    """r9: CMYK TIFF (photometric 5, 4 samples/pixel) decodes through the
    naive uncalibrated conversion R=(255-C)(255-K)/255 — pure C/M/Y inks
    and the K axis land on exact RGB values; planar CMYK still raises."""
    import struct

    import numpy as np

    w, h = 3, 2
    cmyk = np.array(
        [
            [[255, 0, 0, 0], [0, 255, 0, 0], [0, 0, 255, 0]],
            [[0, 0, 0, 255], [0, 0, 0, 0], [128, 0, 0, 128]],
        ],
        np.uint8,
    )
    hdr = 8 + 2 + 12 * 8 + 4
    ents = [
        (256, 4, 1, w), (257, 4, 1, h), (259, 3, 1, 1),
        (262, 3, 1, 5), (273, 4, 1, hdr + 8), (277, 3, 1, 4),
        (279, 4, 1, cmyk.size), (258, 3, 4, hdr),
    ]
    bits = struct.pack("<4H", 8, 8, 8, 8)
    got = multimodal.decode_media(
        _tiff_le(sorted(ents), bits + cmyk.tobytes()), "tiff"
    )
    expect = np.array(
        [
            [[0, 255, 255], [255, 0, 255], [255, 255, 0]],
            [[0, 0, 0], [255, 255, 255], [63, 127, 127]],
        ],
        np.uint8,
    )
    assert got == (w, h, expect.tobytes())

    # planar CMYK routes to the seam
    ents_planar = [e for e in ents if e[0] != 284] + [(284, 3, 1, 2)]
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(
            _tiff_le(sorted(ents_planar), bits + cmyk.tobytes()), "tiff"
        )

def _split_jpeg_tables(stream: bytes) -> tuple[bytes, bytes]:
    """Split a JFIF stream into (tables-only stream, tables-stripped
    stream) — the layout TTN2's JPEGTables tag (347) prescribes: shared
    DQT/DHT move to the tag, segments keep SOI/SOF/SOS/entropy/EOI."""
    import struct

    tables = b""
    body = b"\xff\xd8"
    pos = 2
    while pos + 4 <= len(stream):
        marker = struct.unpack_from(">H", stream, pos)[0]
        if marker == 0xFFDA:
            body += stream[pos:]
            break
        (length,) = struct.unpack_from(">H", stream, pos + 2)
        seg = stream[pos : pos + 2 + length]
        if marker in (0xFFDB, 0xFFC4):
            tables += seg
        else:
            body += seg
        pos += 2 + length
    return b"\xff\xd8" + tables + b"\xff\xd9", body


def test_tiff_jpeg_compression_decodes_natively():
    """r9: new-style JPEG-in-TIFF (compression 7) decodes through the
    native JPEG path — strip and tiled layouts, with and without the
    JPEGTables (347) shared-tables splice.  The oracle is differential:
    the TIFF decode must be byte-identical to assembling the individual
    strip/tile JPEG decodes (same codec, so exact equality).  Old-style
    JPEG (6) and RGB-JPEG photometrics still route to the PIL seam."""
    import struct

    import numpy as np

    w, h, rps = 24, 21, 16  # two strips, the last one short
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [(yy * 9 + xx * 3) % 256, (xx * 7) % 256, (yy * 5 + 40) % 256],
        axis=2,
    ).astype(np.uint8)

    strips, parts = [], []
    for y0 in range(0, h, rps):
        rows = min(rps, h - y0)
        blob = multimodal._encode_jpeg(
            w, rows, rgb[y0 : y0 + rows].tobytes(), quality=85,
            subsampling="420",
        )
        strips.append(blob)
        sw, sh, out = multimodal._decode_jpeg(blob)
        parts.append(np.frombuffer(out, np.uint8).reshape(sh, sw, 3))
    expect = np.concatenate(parts, axis=0).tobytes()

    def strip_tiff(segs: list, extra_ents=(), extra_trailer=b""):
        n = 9 + len(extra_ents)
        hdr = 8 + 2 + 12 * n + 4
        offs, pos = [], hdr + len(extra_trailer)
        for s in segs:
            offs.append(pos)
            pos += len(s)
        ents = [
            (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8),
            (259, 3, 1, 7), (262, 3, 1, 6), (273, 4, 2, pos),
            (277, 3, 1, 3), (278, 4, 1, rps), (279, 4, 2, pos + 8),
        ] + list(extra_ents)
        trailer = (
            extra_trailer
            + b"".join(segs)
            + struct.pack("<2I", *offs)
            + struct.pack("<2I", *[len(s) for s in segs])
        )
        return _tiff_le(sorted(ents), trailer)

    # full per-strip streams (no JPEGTables)
    got = multimodal.decode_media(strip_tiff(strips), "tiff")
    assert got == (w, h, expect)

    # JPEGTables splice: strip 0's tables move to tag 347 and its segment
    # is stripped bare; strip 1 keeps its own (different, per-segment
    # optimized) tables, which must OVERRIDE the spliced ones — tables
    # are redefinable by spec, so decode order handles both cases
    tables, body0 = _split_jpeg_tables(strips[0])
    hdr10 = 8 + 2 + 12 * 10 + 4
    got = multimodal.decode_media(
        strip_tiff(
            [body0, strips[1]],
            extra_ents=[(347, 7, len(tables), hdr10)],
            extra_trailer=tables,
        ),
        "tiff",
    )
    assert got == (w, h, expect)

    # tiled layout: 2x2 grid of 16x16 tiles over the padded image
    tw = tl = 16
    pad = np.pad(rgb, ((0, 2 * tl - h), (0, 2 * tw - w), (0, 0)), "edge")
    tiles, tparts = [], []
    for tyi in range(2):
        for txi in range(2):
            cell = pad[tyi * tl : (tyi + 1) * tl, txi * tw : (txi + 1) * tw]
            blob = multimodal._encode_jpeg(
                tw, tl, cell.tobytes(), quality=85, subsampling="444"
            )
            tiles.append(blob)
            _, _, out = multimodal._decode_jpeg(blob)
            tparts.append(np.frombuffer(out, np.uint8).reshape(tl, tw, 3))
    canvas = np.zeros((2 * tl, 2 * tw, 3), np.uint8)
    for i, t in enumerate(tparts):
        tyi, txi = divmod(i, 2)
        canvas[tyi * tl : (tyi + 1) * tl, txi * tw : (txi + 1) * tw] = t
    texpect = canvas[:h, :w].tobytes()
    n = 10
    hdr = 8 + 2 + 12 * n + 4
    offs, pos = [], hdr
    for t in tiles:
        offs.append(pos)
        pos += len(t)
    ents = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8), (259, 3, 1, 7),
        (262, 3, 1, 6), (277, 3, 1, 3), (322, 4, 1, tw), (323, 4, 1, tl),
        (324, 4, 4, pos), (325, 4, 4, pos + 16),
    ]
    trailer = (
        b"".join(tiles)
        + struct.pack("<4I", *offs)
        + struct.pack("<4I", *[len(t) for t in tiles])
    )
    got = multimodal.decode_media(_tiff_le(sorted(ents), trailer), "tiff")
    assert got == (w, h, texpect)

    # gray spp=1 path: channel 0 of the decode, WhiteIsZero inverted
    gray_tiff = bytearray(strip_tiff(strips))
    # patch spp (277) to 1 and photometric (262) to 0 in the IFD
    for i in range(9):
        tag = struct.unpack_from("<H", gray_tiff, 10 + 12 * i)[0]
        if tag == 277:
            struct.pack_into("<I", gray_tiff, 10 + 12 * i + 8, 1)
        elif tag == 262:
            struct.pack_into("<I", gray_tiff, 10 + 12 * i + 8, 0)
    got = multimodal.decode_media(bytes(gray_tiff), "tiff")
    gexpect = np.repeat(
        255
        - np.frombuffer(expect, np.uint8).reshape(h, w, 3)[:, :, :1],
        3,
        axis=2,
    ).tobytes()
    assert got == (w, h, gexpect)

    # seams: old-style JPEG (6) and RGB-JPEG photometric raise by name
    for patch_tag, patch_val in ((259, 6), (262, 2)):
        blob = bytearray(strip_tiff(strips))
        for i in range(9):
            tag = struct.unpack_from("<H", blob, 10 + 12 * i)[0]
            if tag == patch_tag:
                struct.pack_into("<I", blob, 10 + 12 * i + 8, patch_val)
        with pytest.raises(NotImplementedError):
            multimodal.decode_media(bytes(blob), "tiff")

def test_jpeg_hierarchical_closed_loop_and_quality():
    """r9: hierarchical JPEG (T.81 Annex J) — DHP + reduced-resolution
    SOF0 base + EXP-expanded SOF5 differential refinements.  The encoder
    runs the decoder's exact reconstruction in its loop (quantize ->
    dequant -> IDCT -> clamp per frame), so the decode must be
    pixel-IDENTICAL to the encoder's returned reconstruction; the final
    pyramid must also approximate the source (refinement actually
    refines).  Non-sequential differential frames raise by name."""
    import struct

    import numpy as np

    rng = np.random.default_rng(11)
    for (w, h, q, lv) in [
        (48, 32, 90, 3), (21, 13, 75, 2), (64, 64, 95, 4),
        (33, 57, 85, 3), (8, 8, 90, 1),
    ]:
        yy, xx = np.mgrid[0:h, 0:w]
        rgb = np.stack(
            [(yy * 5 + xx * 3) % 256, (xx * 7 + 10) % 256,
             ((yy + xx) * 4) % 256],
            axis=2,
        ).astype(np.uint8)
        stream, expect = multimodal._encode_jpeg_hierarchical(
            w, h, rgb.tobytes(), quality=q, levels=lv, return_recon=True
        )
        gw, gh, got = multimodal._decode_jpeg(stream)
        assert (gw, gh) == (w, h)
        assert got == expect, f"closed loop diverged at {(w, h, q, lv)}"
        mae = np.abs(
            np.frombuffer(got, np.uint8).astype(int)
            - rgb.reshape(-1).astype(int)
        ).mean()
        assert mae < 6.0, f"pyramid failed to refine at {(w, h, q, lv)}"

    # noise content (worst case for the pyramid) still closes the loop
    noisy = rng.integers(0, 256, (24, 40, 3)).astype(np.uint8)
    stream, expect = multimodal._encode_jpeg_hierarchical(
        40, 24, noisy.tobytes(), quality=80, levels=3, return_recon=True
    )
    assert multimodal._decode_jpeg(stream)[2] == expect

    # structure: DHP present, one SOF0, levels-1 SOF5 + EXP segments
    def count_markers(blob, mk):
        n, pos = 0, 2
        while pos + 4 <= len(blob):
            marker = struct.unpack_from(">H", blob, pos)[0]
            if marker == 0xFFD9:
                break
            (ln,) = struct.unpack_from(">H", blob, pos + 2)
            n += marker == mk
            if marker == 0xFFDA:  # skip entropy data to next marker
                pos += 2 + ln
                while pos < len(blob) - 1:
                    if blob[pos] != 0xFF or blob[pos + 1] in (0x00, 0xFF):
                        pos += 1 + (blob[pos] == 0xFF)
                    else:
                        break
                continue
            pos += 2 + ln
        return n

    assert count_markers(stream, 0xFFDE) == 1
    assert count_markers(stream, 0xFFC0) == 1
    assert count_markers(stream, 0xFFC5) == 2
    assert count_markers(stream, 0xFFDF) == 2

    # a non-differential progressive frame inside a pyramid routes to
    # the seam (differential SOF5/6/7 and the arithmetic trio decode)
    mutated = bytearray(stream)
    idx = bytes(mutated).find(b"\xff\xc5")
    mutated[idx + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        multimodal._decode_jpeg(bytes(mutated))


def test_jpeg_hierarchical_progressive_refinement_frames():
    """r9: SOF6 differential PROGRESSIVE refinement frames carry the same
    quantized coefficients as SOF5 sequential ones — the encoder recon is
    identical, and the decode must match it bit-for-bit; composes with
    the SOF7 lossless final frame."""
    import numpy as np

    rng = np.random.default_rng(7)
    for (w, h, q, lv) in [(48, 32, 90, 3), (21, 13, 75, 2), (8, 8, 90, 1)]:
        yy, xx = np.mgrid[0:h, 0:w]
        rgb = np.stack(
            [(yy * 5 + xx * 3) % 256, (xx * 7 + 10) % 256,
             ((yy + xx) * 4) % 256],
            axis=2,
        ).astype(np.uint8)
        _s5, e5 = multimodal._encode_jpeg_hierarchical(
            w, h, rgb.tobytes(), quality=q, levels=lv, return_recon=True
        )
        s6, e6 = multimodal._encode_jpeg_hierarchical(
            w, h, rgb.tobytes(), quality=q, levels=lv, return_recon=True,
            progressive_refine=True,
        )
        assert e5 == e6  # identical coefficients -> identical recon
        assert multimodal._decode_jpeg(s6) == (w, h, e6)
        s6l, e6l = multimodal._encode_jpeg_hierarchical(
            w, h, rgb.tobytes(), quality=q, levels=lv, return_recon=True,
            progressive_refine=True, lossless_final=True,
        )
        assert multimodal._decode_jpeg(s6l) == (w, h, e6l)
    noisy = rng.integers(0, 256, (24, 40, 3)).astype(np.uint8)
    s6, e6 = multimodal._encode_jpeg_hierarchical(
        40, 24, noisy.tobytes(), quality=80, levels=3, return_recon=True,
        progressive_refine=True,
    )
    assert multimodal._decode_jpeg(s6) == (40, 24, e6)

def test_jpeg_hierarchical_lossless_final_frame():
    """r9: a differential LOSSLESS final frame (SOF7) on top of the DCT
    pyramid makes the decoded YCbCr planes exactly equal the source
    planes — the decode must match the exact YCbCr->RGB roundtrip of the
    original (only color-transform rounding remains, max error 1)."""
    import numpy as np

    rng = np.random.default_rng(3)
    for (w, h, q, lv) in [(48, 32, 90, 3), (21, 13, 75, 2)]:
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        stream, expect = multimodal._encode_jpeg_hierarchical(
            w, h, rgb.tobytes(), quality=q, levels=lv,
            return_recon=True, lossless_final=True,
        )
        gw, gh, got = multimodal._decode_jpeg(stream)
        assert (gw, gh) == (w, h) and got == expect
        px = rgb.astype(np.float64)
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        y = np.clip(np.rint(0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
        cb = np.clip(
            np.rint(-0.168736 * r - 0.331264 * g + 0.5 * b + 128), 0, 255
        ) - 128
        cr = np.clip(
            np.rint(0.5 * r - 0.418688 * g - 0.081312 * b + 128), 0, 255
        ) - 128
        back = np.stack(
            [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr,
             y + 1.772 * cb],
            axis=2,
        )
        back = np.clip(np.rint(back), 0, 255).astype(np.uint8).tobytes()
        assert got == back
        err = np.abs(
            np.frombuffer(got, np.uint8).astype(int)
            - rgb.reshape(-1).astype(int)
        ).max()
        assert err <= 1  # color-transform rounding only

def test_jpeg_hierarchical_arithmetic_frames():
    """r9: the arithmetic hierarchical family — SOF9 base + SOF13
    (differential sequential) / SOF14 (differential progressive) /
    SOF15 (differential lossless) QM-coded frames.  Every frame carries
    the SAME quantized coefficients as its Huffman twin, so the
    sequential arithmetic pyramid's reconstruction must equal the
    Huffman pyramid's EXACTLY, and each decode must equal its encoder's
    closed-loop recon bit-for-bit.  With this, every T.81 frame type
    except non-differential-progressive/lossless-inside-a-pyramid
    decodes natively."""
    import numpy as np

    for (w, h, q, lv) in [(48, 32, 90, 3), (21, 13, 75, 2), (8, 8, 90, 1)]:
        yy, xx = np.mgrid[0:h, 0:w]
        rgb = np.stack(
            [(yy * 5 + xx * 3) % 256, (xx * 7 + 10) % 256,
             ((yy + xx) * 4) % 256],
            axis=2,
        ).astype(np.uint8)
        _sh, eh_ = multimodal._encode_jpeg_hierarchical(
            w, h, rgb.tobytes(), quality=q, levels=lv, return_recon=True
        )
        for prog in (False, True):
            for llf in (False, True):
                sa, ea = multimodal._encode_jpeg_hierarchical(
                    w, h, rgb.tobytes(), quality=q, levels=lv,
                    return_recon=True, entropy="arithmetic",
                    progressive_refine=prog, lossless_final=llf,
                )
                assert multimodal._decode_jpeg(sa) == (w, h, ea), (
                    w, h, q, lv, prog, llf,
                )
        # cross-coder identity: same coefficients -> same reconstruction
        _sa, ea = multimodal._encode_jpeg_hierarchical(
            w, h, rgb.tobytes(), quality=q, levels=lv, return_recon=True,
            entropy="arithmetic",
        )
        assert ea == eh_

    # noise content closes the loop too
    rng = np.random.default_rng(13)
    noisy = rng.integers(0, 256, (24, 40, 3)).astype(np.uint8)
    sa, ea = multimodal._encode_jpeg_hierarchical(
        40, 24, noisy.tobytes(), quality=80, levels=3, return_recon=True,
        entropy="arithmetic", progressive_refine=True, lossless_final=True,
    )
    assert multimodal._decode_jpeg(sa) == (40, 24, ea)

def test_codec_fuzz_robustness_and_quarantine():
    """r9: corrupt-input contract for the whole decode surface — random
    byte mutations and truncations over every native image format must
    either decode or raise (never hang: each case is time-bounded), and
    decode_media_safe must classify them without raising.  The
    deterministic damage classes used by multimodal_quarantine_stats
    (truncate-to-8 / zeroed magic / intact) are pinned per format."""
    import time

    import numpy as np

    rng = np.random.default_rng(0)
    w, h = 16, 12
    encoders = {
        "bmp": multimodal._encode_bmp,
        "ppm": multimodal._encode_ppm,
        "png": multimodal._encode_png,
        "jpeg": lambda W, H, r: multimodal._encode_jpeg(W, H, r, quality=85),
        "gif": multimodal._encode_gif,
        "tiff": multimodal._encode_tiff,
    }
    for fmt, enc in encoders.items():
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8).tobytes()
        blob = enc(w, h, rgb)
        # deterministic damage classes
        ok, dw, dh, _rgb, err = multimodal.decode_media_safe(blob[:8], fmt)
        assert (ok, dw, dh, err) == (False, 0, 0, "decode_error"), fmt
        ok, *_rest, err = multimodal.decode_media_safe(
            b"\x00\x00" + blob[2:], fmt
        )
        assert not ok and err == "decode_error", fmt
        ok, dw, dh, _rgb, err = multimodal.decode_media_safe(blob, fmt)
        assert (ok, dw, dh, err) == (True, w, h, ""), fmt
        # fuzz: random mutations + truncations never hang or escape
        for trial in range(40):
            b = bytearray(blob)
            for _ in range(int(rng.integers(1, 6))):
                b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
            if trial % 3 == 0:
                b = b[: int(rng.integers(1, len(b)))]
            t0 = time.time()
            ok, *_ = multimodal.decode_media_safe(bytes(b), fmt)
            assert time.time() - t0 < 2.0, (fmt, trial)
    # pure garbage
    assert multimodal.decode_media_safe(b"\x01\x02garbage", "png")[4] == (
        "decode_error"
    )
    # seam routes classify as 'unsupported', not 'decode_error'
    ok, *_rest, err = multimodal.decode_media_safe(bytes(20), "webp")
    assert not ok and err == "unsupported"

def test_html_text_extraction():
    """r9: stdlib HTML -> text extraction — script/style/head dropped,
    blocks to line breaks, entities decoded, whitespace normalized,
    links and title captured; malformed markup never raises."""
    from data_pipeline_spark.llmops import html_text

    page = (
        "<html><head><title> My  Title </title><style>p{}</style>"
        "<script>var s = '<p>fake</p>';</script></head><body>"
        "<nav><a href='/a'>A</a> <a href='/b'>B</a></nav>"
        "<article><p>Hello &amp; welcome</p><p>Second\n  para</p>"
        "<div>X<span>Y</span>Z</div></article>"
        "<footer>&copy; 2026</footer></body></html>"
    )
    out = html_text.extract_html(page)
    assert out["title"] == "My Title"
    assert out["links"] == ["/a", "/b"]
    assert out["text"] == "A B\nHello & welcome\nSecond para\nXYZ\n© 2026"

    # malformed markup: unclosed, misnested, bogus entities, stray '<'
    for bad in (
        "<p>unclosed <b>x", "</div></div><table><tr>x",
        "<a href='>'>t</a><p>&nbsp;&bogus;", "plain & text < done",
        "<script>never closed", "",
        None,
    ):
        html_text.extract_html(bad)  # must not raise
    assert html_text.extract_html("<p>unclosed <b>x")["text"] == "unclosed x"
    # script content never leaks even with markup inside the string
    assert "fake" not in html_text.extract_html(page)["text"]

    # the wrap/extract identity the oracle-paired query relies on
    for did, text in [(0, "hello"), (4, "a\nb  c\n\nd & <e>"), (2, "")]:
        got = html_text.extract_html(html_text.wrap_in_html(did, text))
        nav = [f"Nav {i}" for i in range(1 + did % 3)]
        paras = [" ".join(p.split()) for p in text.split("\n")]
        expected = "\n".join(nav + [p for p in paras if p] + ["© corpus"])
        assert got["text"] == expected
        assert got["title"] == f"doc-{did}"
        assert len(got["links"]) == 1 + did % 3

def test_jpeg_hierarchical_base_mode_matrix():
    """r9: the full hierarchical matrix — base frame process x entropy
    coder x refinement kind x lossless-final.  Base modes: sequential
    (SOF0/SOF9), progressive (SOF2/SOF10 inside the pyramid, DC
    predicted) and lossless (SOF3/SOF11, predictor-1 with H.1.2
    boundary rules — the base level becomes exact).  With these, every
    T.81 frame type decodes in a legal hierarchical slot.  All 24
    combinations must be closed-loop pixel-exact; base_mode='lossless' +
    lossless_final makes the whole pyramid exact in the sample domain
    for BOTH coders."""
    import numpy as np

    for (w, h, q, lv) in [(21, 13, 75, 2), (8, 8, 90, 1)]:
        yy, xx = np.mgrid[0:h, 0:w]
        rgb = np.stack(
            [(yy * 5 + xx * 3) % 256, (xx * 7 + 10) % 256,
             ((yy + xx) * 4) % 256],
            axis=2,
        ).astype(np.uint8).tobytes()
        for entropy in ("huffman", "arithmetic"):
            for base_mode in ("sequential", "progressive", "lossless"):
                for prog in (False, True):
                    s, exp = multimodal._encode_jpeg_hierarchical(
                        w, h, rgb, quality=q, levels=lv,
                        return_recon=True, entropy=entropy,
                        base_mode=base_mode, progressive_refine=prog,
                    )
                    assert multimodal._decode_jpeg(s) == (w, h, exp), (
                        w, h, entropy, base_mode, prog,
                    )
    rng = np.random.default_rng(17)
    noisy = rng.integers(0, 256, (16, 24, 3)).astype(np.uint8)
    for entropy in ("huffman", "arithmetic"):
        s, exp = multimodal._encode_jpeg_hierarchical(
            24, 16, noisy.tobytes(), levels=3, return_recon=True,
            entropy=entropy, base_mode="lossless", lossless_final=True,
        )
        assert multimodal._decode_jpeg(s) == (24, 16, exp)
    # a SECOND non-differential frame mid-pyramid still routes to the seam
    s, _ = multimodal._encode_jpeg_hierarchical(
        24, 16, noisy.tobytes(), levels=2, return_recon=True
    )
    mutated = bytearray(s)
    idx = bytes(mutated).find(b"\xff\xc5")
    mutated[idx + 1] = 0xC0
    with pytest.raises(NotImplementedError):
        multimodal._decode_jpeg(bytes(mutated))

def test_audio_quarantine_and_fuzz():
    """r9: decode_audio_safe classifies corrupt wav/flac streams instead
    of raising, and fuzzed mutations never hang (time-bounded)."""
    import time

    import numpy as np

    rng = np.random.default_rng(2)
    frames = (rng.integers(-300, 300, 400) * 16).astype("<i2").tobytes()
    wav = multimodal._encode_wav(1, 8000, frames)
    from data_pipeline_spark.llmops import flac

    fl = flac.encode_flac(1, 8000, frames)
    for fmt, blob in (("wav", wav), ("flac", fl)):
        ok, ch, rate, out, err = multimodal.decode_audio_safe(blob, fmt)
        assert ok and (ch, rate, err) == (1, 8000, "") and out == frames
        ok, *_rest, err = multimodal.decode_audio_safe(blob[:6], fmt)
        assert not ok and err == "decode_error", fmt
        ok, *_rest, err = multimodal.decode_audio_safe(
            b"\x00\x00" + blob[2:], fmt
        )
        assert not ok and err == "decode_error", fmt
        for trial in range(40):
            b = bytearray(blob)
            for _ in range(int(rng.integers(1, 5))):
                b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
            if trial % 3 == 0:
                b = b[: int(rng.integers(1, len(b)))]
            t0 = time.time()
            multimodal.decode_audio_safe(bytes(b), fmt)
            assert time.time() - t0 < 2.0, (fmt, trial)
    ok, *_rest, err = multimodal.decode_audio_safe(bytes(20), "mp3")
    assert not ok and err == "unsupported"


def test_ivf_layout_topk_matches_inmemory_and_prunes(spark, tmp_path):
    """The partitioned serving layout (ivf_write_layout + ivf_layout_topk)
    must (a) reproduce the in-memory ivf_topk BIT-FOR-BIT at the same
    quantizer and probe config — training is deterministic, so building
    both paths from the same base yields the same centroids — and (b)
    actually PRUNE: at n_probe=4 of 16 the scan's partition filter admits
    only the probed list directories, so the file count read is a strict
    subset of the layout's files."""
    from data_pipeline_spark.plans import audit

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf_layout")
    centroids = similarity.ivf_write_layout(emb, path, n_lists=16)

    for n_probe in (4, 16):
        served = sorted(
            map(tuple, similarity.ivf_layout_topk(
                spark, path, queries, centroids, k=10, n_probe=n_probe
            ).collect())
        )
        mem = sorted(
            map(tuple, similarity.ivf_topk(
                emb, queries, k=10, n_lists=16, n_probe=n_probe
            ).collect())
        )
        assert served == mem, f"n_probe={n_probe}"

    # pruning evidence: the pruned plan's scan partition filter names
    # list_id, and fewer files are read than the full layout holds
    pruned = similarity.ivf_layout_topk(
        spark, path, queries, centroids, k=10, n_probe=4
    )
    plan = audit.formatted_plan(pruned)
    assert "PartitionFilters" in plan and "list_id" in plan.split(
        "PartitionFilters", 1
    )[1].splitlines()[0], plan
    import glob

    n_all = len(glob.glob(f"{path}/list_id=*/*.parquet"))
    probes = similarity.ivf_probes(queries, centroids, n_probe=4)
    probed = {r.list_id for r in probes.select("list_id").distinct().collect()}
    n_read = sum(
        len(glob.glob(f"{path}/list_id={lid}/*.parquet")) for lid in probed
    )
    assert len(probed) < 16 and n_read < n_all, (probed, n_read, n_all)


def test_lsh_scaled_banding_math_and_recall(spark):
    """r11 corpus-size-aware LSH banding: (a) at small n the derivation
    reproduces the recall-derived config exactly (no behavior change for
    existing callers); (b) at large n the depth grows to hold chance
    occupancy ~constant and the table count is re-derived to keep the
    SAME expected boundary recall; (c) measured recall vs brute force on
    a real corpus still clears the floor under the scaled config."""
    import math

    from data_pipeline_spark.llmops.similarity import (
        lsh_planes_for_recall,
        lsh_scaled_banding,
        lsh_tables_for_recall,
    )

    b0 = lsh_planes_for_recall(0.45, 64)
    # small corpus: unchanged
    assert lsh_scaled_banding(0.45, 500, 64) == (b0, 64)
    # big corpus: deeper bands, more tables, same expected recall
    b, L = lsh_scaled_banding(0.45, 20_000, 64)
    assert b > b0 and L >= 64
    p = 1.0 - math.acos(0.45) / math.pi
    expected = 1.0 - (1.0 - p**b) ** L
    assert expected >= 0.95
    # chance occupancy bounded: buckets/table >= n/target_occupancy
    assert 2**b >= 20_000 / 64
    # tables-for-recall duality: at the recall-derived depth, 64 tables
    # already suffice
    assert lsh_tables_for_recall(0.45, b0) <= 64

    # (b2) ADVICE r11: past the table budget the derivation must NOT be
    # silent — at 10M vectors, threshold 0.45 needs more than max_tables
    # can buy back, so a RuntimeWarning carries the achieved recall
    import warnings as _w

    with pytest.warns(RuntimeWarning, match="expected boundary recall"):
        b_cap, L_cap = lsh_scaled_banding(0.45, 10_000_000, 64)
    assert L_cap == 1024  # pinned at the cap, not silently undersized
    assert 1.0 - (1.0 - p**b_cap) ** L_cap < 0.95
    # sub-cap regimes stay warning-free (both the small-n and scaled legs)
    with _w.catch_warnings():
        _w.simplefilter("error")
        lsh_scaled_banding(0.45, 500, 64)
        lsh_scaled_banding(0.45, 20_000, 64)

    # (c) recall floor holds under a forced-scaled config on real data
    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.neardup_pairs(emb, threshold=0.4).collect()
    }
    scaled = {
        (r.id_a, r.id_b)
        for r in similarity.lsh_neardup_pairs(
            emb, threshold=0.4, num_tables=64, dim=64, corpus_size=50_000
        ).collect()
    }
    assert scaled <= exact
    if exact:
        assert len(scaled) / len(exact) >= 0.9


def test_exact_contract_component_parity(spark):
    """r11 exact-dup pre-contraction: components are IDENTICAL with and
    without the contraction, including the contract's edge cases —
    md5-equal texts collapse to the min-id rep but inherit the right
    component label; identical texts SHORTER than the shingle width have
    no pair-graph edge and must stay separate singletons (the naive
    md5-grouping would invent a component the oracle does not have);
    NULL text stays a singleton."""
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),   # exact dup of 1
        (7, "alpha beta gamma delta epsilon"),   # exact dup of 1
        (3, "alpha beta gamma delta zeta"),      # J=0.5 near dup of group A
        (4, "totally different text content here today"),
        (5, "a b"),                              # <3 tokens, identical to 6
        (6, "a b"),                              # must stay SEPARATE singleton
        (8, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r.doc_id, r.component)
        for r in ld.neardup_components(
            docs, "doc_id", "text", threshold=0.45
        ).collect()
    }
    want = {
        (r.doc_id, r.component)
        for r in ld.neardup_components(
            docs, "doc_id", "text", threshold=0.45, contract=False
        ).collect()
    }
    assert got == want
    comp = dict(got)
    assert comp[1] == comp[2] == comp[7] == comp[3] == 1
    assert comp[5] == 5 and comp[6] == 6 and comp[8] == 8 and comp[4] == 4
    # star variant agrees too (same contraction, different CC algorithm)
    star = {
        (r.doc_id, r.component)
        for r in ld.neardup_components(
            docs, "doc_id", "text", threshold=0.45, star=True
        ).collect()
    }
    assert star == want


def test_exact_contract_beyond_max_df(spark):
    """ADVICE r11 (medium): the contraction parity claim is SCOPED to the
    sub-max_df regime.  Once a duplicate group alone exceeds
    ngram_jaccard_pairs' max_df, the forms intentionally diverge:
    uncontracted, the group's multiplicity df-prunes its own shingles and
    every copy degrades to a signal-free singleton; contracted, the group
    counts ONCE and the components match the UNCAPPED Jaccard oracle —
    the documented intended behavior."""
    rows = (
        [(i, "alpha beta gamma delta epsilon") for i in range(1, 6)]  # 5 copies
        + [
            (6, "alpha beta gamma delta zeta"),  # J=0.5 near dup of the pile
            (7, "totally different text content here today"),
        ]
    )
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    def components(contract: bool, max_df: int) -> dict[int, int]:
        # neardup_components' exact composition, with max_df injectable
        if contract:
            rep_docs, members = ld.exact_contract(docs, "doc_id", "text")
        else:
            rep_docs, members = docs, None
        pairs = ld.ngram_jaccard_pairs(
            rep_docs, "doc_id", "text", threshold=0.45, max_df=max_df
        )
        comp = ld.connected_components(pairs, rep_docs, "doc_id")
        if members is not None:
            comp = ld.expand_contracted_components(comp, members, "doc_id")
        return {r.doc_id: r.component for r in comp.collect()}

    # the 5-copy group alone exceeds max_df=3
    contracted = components(contract=True, max_df=3)
    uncontracted = components(contract=False, max_df=3)
    uncapped_oracle = components(contract=False, max_df=10**6)

    # contracted == uncapped oracle: the pile clusters with its near dup
    assert contracted == uncapped_oracle
    assert all(contracted[i] == 1 for i in range(1, 7))
    assert contracted[7] == 7
    # uncontracted: the group's own multiplicity stopwords its shingles —
    # everything degrades to singletons (the documented divergence)
    assert uncontracted == {i: i for i in range(1, 8)}


def test_contract_auto_duplicate_rate_probe(spark, monkeypatch):
    """r11 verdict item #6: contract="auto" probes the byte-exact
    duplicate rate with one approx-distinct aggregate and contracts only
    when it clears CONTRACT_MIN_DUP_RATE — a nearly-duplicate-free
    corpus skips the md5 groupBy + re-expand premium, a duplicate-heavy
    one keeps the 7.4x win, and components are identical either way."""
    calls = []
    orig = ld.exact_contract

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(ld, "exact_contract", spy)

    # the rate probe itself: planted 30% duplicates measure ~0.30
    base = [(i, f"wholly unique document body number {i} with words") for i in range(70)]
    dup = [(100 + i, "the one duplicated body shared by thirty rows") for i in range(30)]
    mixed = spark.createDataFrame(base + dup, "doc_id LONG, text STRING")
    r = ld.duplicate_rate(mixed, "text")
    assert abs(r - 0.29) < 0.02  # 100 rows, 71 distinct texts

    # duplicate-free corpus: auto must NOT contract
    clean = spark.createDataFrame(base, "doc_id LONG, text STRING")
    auto_clean = {
        (x.doc_id, x.component)
        for x in ld.neardup_components(clean, "doc_id", "text").collect()
    }
    assert not calls
    # duplicate-heavy corpus: auto contracts
    auto_mixed = {
        (x.doc_id, x.component)
        for x in ld.neardup_components(mixed, "doc_id", "text").collect()
    }
    assert calls
    # parity at BOTH rates across BOTH forced forms
    for df, auto_rows in ((clean, auto_clean), (mixed, auto_mixed)):
        for forced in (True, False):
            got = {
                (x.doc_id, x.component)
                for x in ld.neardup_components(
                    df, "doc_id", "text", contract=forced
                ).collect()
            }
            assert got == auto_rows


def test_neardup_components_rejects_unknown_contract(spark):
    """Only "auto", True and False select a contraction mode; any other
    value (a typo'd "off" is truthy) raises instead of contracting."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "doc_id LONG, text STRING"
    )
    for bad in ("off", "on", None, 1):
        with pytest.raises(ValueError, match="contract must be"):
            ld.neardup_components(docs, "doc_id", "text", contract=bad)


def test_persisted_ivf_centroid_reload_parity(spark):
    """ADVICE r10 (medium): _persisted_ivf_layout's centroids.json reload
    must reproduce the WRITE-TIME quantizer bit-for-bit.  The r10 reload
    declared ARRAY<FLOAT>, truncating the k-means doubles to float32 —
    a DIFFERENT quantizer from the one that assigned the layout's lists,
    masked only because the certificate probed all 16 lists.  Pin: (a)
    the reloaded frame's quantized rows equal a fresh ivf_centroids run's
    (training is deterministic), (b) the reload schema is double, and (c)
    a PRUNED query (n_probe < n_lists) off the persisted sidecar matches
    the fresh in-memory path — the regime the truncation silently hurt."""
    from data_pipeline_spark.queries_llm import _persisted_ivf_layout

    emb = load_table(spark, SF_SMOKE, "embeddings")
    layout, reloaded = _persisted_ivf_layout(spark, SF_SMOKE)
    assert dict(reloaded.dtypes)["c_vec"] == "array<double>"
    fresh = similarity.ivf_centroids(emb, n_lists=16)
    fq = [
        (r.list_id, list(r.c_q), r.c_n)
        for r in similarity.quantized_centroid_rows(fresh)
    ]
    rq = [
        (r.list_id, list(r.c_q), r.c_n)
        for r in similarity.quantized_centroid_rows(reloaded)
    ]
    assert rq == fq
    queries = emb.filter(F.col("vec_id") < 3)
    served = sorted(map(tuple, similarity.ivf_layout_topk(
        spark, layout, queries, reloaded, k=5, n_probe=4
    ).collect()))
    mem = sorted(map(tuple, similarity.ivf_topk(
        emb, queries, k=5, n_lists=16, n_probe=4
    ).collect()))
    assert served == mem


def test_ivf_layout_topk_empty_queries_short_circuits(spark, tmp_path):
    """An empty query frame returns an empty (correctly-typed) result
    without leaning on isin([]) semantics (ADVICE r10 low)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "empty_q_layout")
    centroids = similarity.ivf_write_layout(emb, path, n_lists=4)
    out = similarity.ivf_layout_topk(
        spark, path, emb.filter(F.col("vec_id") < 0), centroids,
        k=5, n_probe=2,
    )
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "rank", "cos_sim"]


def test_ivf_layout_handles_degenerate_vectors(spark, tmp_path):
    """NULL and zero-norm vectors must survive the layout round-trip the
    way the in-memory kernel contract pins them (list 0, never a crash):
    the layout write assigns them in-row, the served query's quantized
    cosine treats them as never-matching, and parity with ivf_topk holds
    on the degenerate corpus too."""
    rows = [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, None),
            (4, [0.0, 0.0, 0.0]), (5, [0.0, 1.0, 0.0]), (6, [0.1, 0.9, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    queries = emb.filter(F.col("vec_id") == 1)
    path = str(tmp_path / "degenerate_layout")
    centroids = similarity.ivf_write_layout(emb, path, n_lists=2)
    served = sorted(map(tuple, similarity.ivf_layout_topk(
        spark, path, queries, centroids, k=3, n_probe=2
    ).collect()))
    mem = sorted(map(tuple, similarity.ivf_topk(
        emb, queries, k=3, n_lists=2, n_probe=2
    ).collect()))
    assert served == mem
    # the NULL/zero rows landed in the layout (list 0 by contract) and
    # never rank above real neighbors
    top = [t[1] for t in served]
    assert top[0] == 2 and 3 not in top[:2] and 4 not in top[:2]


def test_duplicate_rate_counts_only_contractible_rows(spark):
    """The auto-contraction probe mirrors exact_contract's eligibility
    rule: short (< n tokens), NULL and empty duplicate texts get
    per-doc sentinel fps in the contraction and never collapse, so
    counting them (NULL and '' even hash identically) would enable a
    contraction pass that contracts nothing."""
    short = (
        [(i, "tag") for i in range(20)]
        + [(100 + i, None) for i in range(10)]
        + [(200 + i, "") for i in range(10)]
    )
    longs = [
        (300 + i, f"real document body {i} with several tokens")
        for i in range(20)
    ]
    df = spark.createDataFrame(short + longs, "doc_id LONG, text STRING")
    assert ld.duplicate_rate(df, "text") == 0.0
    # eligible duplicates still measure exactly: 90 rows, 29 removable
    dup = [
        (400 + i, "shared long duplicate body with tokens")
        for i in range(30)
    ]
    df2 = spark.createDataFrame(short + longs + dup, "doc_id LONG, text STRING")
    assert abs(ld.duplicate_rate(df2, "text") - 29 / 90) < 1e-9


def test_sql_expr_twins_bit_identical(spark):
    """The SQL-text twins (qvec_sql/norm_sq_sql/int_dot_sql/cos_*_sql and
    the str fast paths of _qvec/quantized_norm_sq/quantized_dot/cosine/
    _int_dot) must produce schema- AND value-identical columns to the
    Column-DSL lambda forms they replace (r12 opt: one F.expr parse per
    expression instead of dozens of py4j lambda roundtrips)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")

    # lambda forms, built exactly as the pre-r12 builders did
    Q = similarity.Q

    def qvec_old(col):
        return F.transform(
            col, lambda x: F.round(x.cast("double") * Q, 0).cast("bigint")
        )

    def norm_old(col):
        return F.aggregate(
            F.transform(qvec_old(col), lambda x: x * x),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    def dot_old(a, b):
        return F.aggregate(
            F.zip_with(qvec_old(a), qvec_old(b), lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    old = emb.select(
        qvec_old(F.col("embedding")).alias("q"),
        norm_old(F.col("embedding")).alias("n"),
        dot_old(F.col("embedding"), F.col("embedding")).alias("d"),
        (
            dot_old(F.col("embedding"), F.col("embedding"))
            / F.nullif(
                F.sqrt(norm_old(F.col("embedding")))
                * F.sqrt(norm_old(F.col("embedding"))),
                F.lit(0.0),
            )
        ).alias("c"),
    )
    new = emb.select(
        similarity._qvec("embedding").alias("q"),
        similarity.quantized_norm_sq("embedding").alias("n"),
        similarity.quantized_dot("embedding", "embedding").alias("d"),
        similarity.cosine("embedding", "embedding").alias("c"),
    )
    assert old.schema == new.schema
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0

    # the composed scored-cosine fragment over pre-quantized columns
    qframe = similarity.quantized(emb, "vec_id", "embedding", "a").join(
        similarity.quantized(emb, "vec_id", "embedding", "b"),
        F.col("a_id") == F.col("b_id"),
    )
    old_c = qframe.select(
        (
            F.aggregate(
                F.zip_with(F.col("a_q"), F.col("b_q"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            )
            / F.nullif(
                F.sqrt(F.col("a_n")) * F.sqrt(F.col("b_n")), F.lit(0.0)
            )
        ).alias("cos")
    )
    new_c = qframe.select(
        F.expr(similarity.cos_cols_sql("a_q", "b_q", "a_n", "b_n")).alias(
            "cos"
        )
    )
    assert old_c.schema == new_c.schema
    assert old_c.exceptAll(new_c).count() == 0
    assert new_c.exceptAll(old_c).count() == 0


def test_word_ngrams_sql_twin_bit_identical(spark):
    from data_pipeline_spark.llmops import textstats

    docs = load_table(spark, SF_SMOKE, "documents")
    for n in (3, 4, 8):
        old = docs.select(
            textstats.word_ngrams(textstats.tokens("text"), n).alias("g")
        )
        new = docs.select(
            F.expr(
                textstats.word_ngrams_sql(textstats.tokens_sql("text"), n)
            ).alias("g")
        )
        assert old.schema == new.schema
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0


def test_pair_structs_sql_twin_bit_identical(spark):
    """_PAIR_STRUCTS_SQL == the nested-lambda struct(alias) form it
    replaced, over posting lists incl. empty and single-element lists."""
    rows = [([],), ([5],), ([3, 1],), ([9, 2, 7, 2],), ([1, 2, 3, 4, 5],)]
    df = spark.createDataFrame(rows, "ids array<bigint>")
    old = df.select(
        F.flatten(
            F.transform(
                "ids",
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size("ids")),
                    lambda y: F.struct(
                        F.least(x, y).alias("id_a"),
                        F.greatest(x, y).alias("id_b"),
                    ),
                ),
            )
        ).alias("p")
    )
    new = df.select(F.expr(ld._PAIR_STRUCTS_SQL).alias("p"))
    assert old.schema == new.schema
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_band_buckets_sql_twin_bit_identical(spark):
    """_with_band_buckets' SQL-text construction == the 31-lambda DSL
    form (rebuilt here verbatim from the pre-r12 code), bucket for
    bucket, including empty shingle sets."""
    docs = load_table(spark, SF_SMOKE, "documents")
    idx = ld.doc_shingle_index(docs, "doc_id", "text", 3, with_bands=False)

    col = F.col("shingles")
    staged = idx.withColumns(
        {
            "_x": F.transform(
                col,
                lambda s: F.shiftrightunsigned(F.xxhash64(s), 33) % ld._MH_P,
            ),
        }
    )

    def mh_min(j):
        a, b = ld._mh_consts(j)
        return F.array_min(
            F.transform(
                F.col("_x"),
                lambda x: (F.lit(a) * x + F.lit(b)) % ld._MH_P,
            )
        )

    mins = [mh_min(j) for j in range(ld._INDEX_NUM_PERM)]
    bucket_array = F.array(
        *[
            F.xxhash64(*mins[t * ld._INDEX_ROWS : (t + 1) * ld._INDEX_ROWS], F.lit(t))
            for t in range(ld._INDEX_BANDS)
        ]
    )
    bands_old = F.when(F.size(col) > 0, bucket_array).otherwise(
        F.array().cast("array<bigint>")
    )
    old = (
        staged.withColumn("bands_v2", bands_old)
        .drop("_x")
        .select("cor_id", "bands_v2")
    )
    new = ld._with_band_buckets(idx, "shingles").select("cor_id", "bands_v2")
    assert old.schema == new.schema
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_duplicate_rate_predicate_equivalence(spark):
    """The space-counting eligibility predicate in duplicate_rate must
    equal size(tokens) >= n row-for-row, including NULL/empty/trailing-
    space texts, so the probe's contract decision can never drift from
    the tokens-based rule exact_contract applies."""
    from data_pipeline_spark.llmops.textstats import tokens

    rows = [
        (1, None), (2, ""), (3, "one"), (4, "a b"), (5, "a b c"),
        (6, "a b c d"), (7, "a  b"), (8, " leading"), (9, "trailing "),
        (10, "  "), (11, "a b "), (12, " a b c"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    for n in (1, 2, 3, 4):
        old = df.select(
            "id", (F.size(tokens("text")) >= n).alias("e")
        )
        new = df.select(
            "id",
            F.expr(
                f"length(`text`) - length(replace(`text`, ' ', ''))"
                f" >= {n - 1}"
            ).alias("e"),
        )
        assert old.schema == new.schema
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0


def test_token_count_equals_size_tokens(spark):
    """token_count's space-counting form must equal size(tokens(text))
    row-for-row — schema included — on NULL/empty/multi-space/leading/
    trailing-space texts: duplicate_span_stats' n_tokens, bpe_token_stats
    and exact_contract's eligibility all key on it."""
    from data_pipeline_spark.llmops.textstats import token_count, tokens

    rows = [
        (1, None), (2, ""), (3, "one"), (4, "a b"), (5, "a b c"),
        (6, "a  b"), (7, " leading"), (8, "trailing "), (9, "  "),
        (10, "a b "), (11, " a b c"), (12, "a" * 50),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    old = df.select("id", F.size(tokens("text")).alias("n"))
    new = df.select("id", token_count("text").alias("n"))
    assert old.schema == new.schema
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_first_token_equals_tokens_head(spark):
    """first_token's substring_index form must equal
    element_at(tokens(text), 1) row-for-row — schema included — on NULL/
    empty/no-space/leading/trailing/multi-space texts:
    bigram_lm_perplexity's unigram reconstruction keys on it."""
    from data_pipeline_spark.llmops.textstats import first_token, tokens

    rows = [
        (1, None), (2, ""), (3, "one"), (4, "a b"), (5, "a b c"),
        (6, "a  b"), (7, " leading"), (8, "trailing "), (9, "  "),
        (10, "a b "), (11, " a b c"), (12, "a" * 50),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    old = df.select("id", F.element_at(tokens("text"), 1).alias("w"))
    new = df.select("id", first_token("text").alias("w"))
    assert old.schema == new.schema
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_bigram_uni_from_model_identity(spark):
    """bigram_lm_perplexity now reconstructs the unigram table from the
    bigram model plus first-token counts instead of a third tokenize
    pass; the identity cu(w) = sum_prev cb(prev, w) + c1(w) (and
    total = sum token_count) must hold EXACTLY on corpora with
    single-token docs, empty texts, NULL texts and repeated tokens."""
    from data_pipeline_spark.llmops.textstats import (
        first_token,
        token_count,
        tokens,
    )

    rows = [
        (1, "a b a"), (2, "b"), (3, ""), (4, None),
        (5, "a a a a"), (6, "c b a"), (7, "b c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("i", "w")
    )
    old_uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    old_total = docs.agg(F.sum(token_count("text"))).first()[0] or 0

    from pyspark.sql import Window

    seq = toks.withColumn(
        "prev", F.lag("w").over(Window.partitionBy("doc_id").orderBy("i"))
    )
    big = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    ft = (
        docs.filter(F.col("text").isNotNull())
        .groupBy(first_token("text").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("c1"),
            F.sum(token_count("text")).alias("tc"),
        )
    )
    new_uni = (
        big.groupBy("w")
        .agg(F.sum("cb").alias("cu"))
        .unionByName(ft.select("w", F.col("c1").alias("cu")))
        .groupBy("w")
        .agg(F.sum("cu").alias("cu"))
    )
    new_total = ft.agg(F.sum("tc")).first()[0] or 0
    # dtypes (not nullability: count() plans non-nullable, sum() nullable
    # — downstream consumes cu only through a double cast)
    assert old_uni.dtypes == new_uni.dtypes
    assert old_uni.exceptAll(new_uni).count() == 0
    assert new_uni.exceptAll(old_uni).count() == 0
    assert old_total == new_total


@pytest.mark.parametrize("footer", [True, False], ids=["footer", "scan"])
def test_bigram_oracle_on_both_total_paths(spark, duck, monkeypatch, footer):
    """bigram_lm_perplexity matches its DuckDB oracle whether the token
    total's non-NULL text count comes from parquet footers or, when the
    footer read gives up (None), from the corpus scan."""
    from data_pipeline_spark import queries_llm
    from data_pipeline_spark.queries import QUERIES
    from tests.conftest import SF_CORRECT
    from tests.oracle_utils import compare_query, register_duck_views

    calls = []
    real = queries_llm.parquet_nonnull_rows

    def probe(path, col):
        calls.append(path)
        return real(path, col) if footer else None

    monkeypatch.setattr(queries_llm, "parquet_nonnull_rows", probe)
    register_duck_views(duck, SF_CORRECT)
    ok, detail = compare_query(spark, duck, QUERIES["bigram_lm_perplexity"], SF_CORRECT)
    assert ok, detail
    assert calls
    if footer:
        assert real(calls[0], "text") is not None


def test_bigram_seq_inline_matches_window_form(spark):
    """bigram_lm_perplexity's (doc_id, w, prev) stream now derives prev
    IN-ROW from the token array (prev of position i is tokens[i-1], NULL
    at i=0) instead of posexplode + lag window — the row MULTISET must be
    identical on NULL/empty/single-token/repeated-token/multi-space
    corpora, since both the model counts and the scoring join consume it."""
    from data_pipeline_spark.llmops.textstats import tokens, tokens_sql

    rows = [
        (1, "a b a"), (2, "b"), (3, ""), (4, None),
        (5, "a a a a"), (6, "c b a"), (7, "b c"),
        (8, "a  b"), (9, " leading"), (10, "trailing "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("i", "w")
    )
    old = toks.withColumn(
        "prev", F.lag("w").over(Window.partitionBy("doc_id").orderBy("i"))
    ).select("doc_id", "w", "prev")

    new = docs.select(
        "doc_id", F.expr(tokens_sql("`text`")).alias("_tk")
    ).select(
        "doc_id",
        F.expr(
            "inline(transform(_tk, (_w, _i) -> named_struct("
            "'w', _w, "
            "'prev', CASE WHEN _i = 0 THEN CAST(NULL AS STRING) "
            "ELSE element_at(_tk, _i) END)))"
        ),
    )
    assert old.dtypes == new.dtypes
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_strip_tail_expression_equivalence(spark):
    """strip_duplicated_segments' substring_index tail must equal the
    token-array slice form row-for-row — multi-space runs, leading/
    trailing spaces, empty, NULL, exact-multiple and sub-seg_len texts —
    since the cleaned md5 embeds the tail verbatim."""
    from data_pipeline_spark.llmops.textstats import tokens

    rows = [
        (1, None), (2, ""), (3, "one"), (4, " ".join("t%d" % i for i in range(8))),
        (5, " ".join("t%d" % i for i in range(9))),
        (6, " ".join("t%d" % i for i in range(23))),
        (7, "a  b"), (8, "a b "), (9, " a b"), (10, "  "),
        (11, " ".join("x" for _ in range(16)) + " y  z "),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    for seg_len in (3, 8):
        toks = tokens("text")
        n_full = (F.size(toks) / seg_len).cast("int")
        old = df.select(
            "id",
            F.concat_ws(
                " ",
                F.slice(toks, n_full * seg_len + 1, F.size(toks) - n_full * seg_len),
            ).alias("tail"),
        )
        cnt = "(length(`text`) - length(replace(`text`, ' ', '')) + 1)"
        m = f"({cnt} % {seg_len})"
        new = df.select(
            "id",
            F.expr(
                f"coalesce(CASE WHEN {m} = 0 THEN '' "
                f"ELSE substring_index(`text`, ' ', -{m}) END, '')"
            ).alias("tail"),
        )
        assert old.schema == new.schema
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0
