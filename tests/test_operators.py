"""Unit tests per operator (SURVEY.md §5 item 3): validation edge
cases, latest-per-key tie-breaking, enrichment defaults, dedup/ANN
behavior on the fixture corpus."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.window import Window

from market_data_ingestor_go_spark.functions.market import (
    hash_api_key, to_wire_json, validate)
from market_data_ingestor_go_spark.operators.dedup import (
    minhash_near_dup_pairs, ngram_jaccard_pairs, simhash_pairs)
from market_data_ingestor_go_spark.operators.enrich import authenticate, enrich_exchange
from market_data_ingestor_go_spark.operators.latest import latest_per_key
from market_data_ingestor_go_spark.operators.multimodal import (
    attach_media_metadata, extract_image_features, sample_frames)
from market_data_ingestor_go_spark.operators.similarity import (
    ivf_ann, knn_bruteforce, random_hyperplane_ann)
from market_data_ingestor_go_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


def test_validation_filter_edges(spark):
    # models/market_data.go:12-20: empty name, ts==0, ts<0 all dropped
    rows = [
        Row(name="AAPL", timestamp=10), Row(name="", timestamp=10),
        Row(name=None, timestamp=10), Row(name="MSFT", timestamp=0),
        Row(name="MSFT", timestamp=-5),
    ]
    out = validate(spark.createDataFrame(rows)).collect()
    assert [(r["name"], r["timestamp"]) for r in out] == [("AAPL", 10)]


def test_latest_per_key_tiebreak(spark):
    rows = [
        Row(name="A", timestamp=5, v=1), Row(name="A", timestamp=9, v=2),
        Row(name="A", timestamp=9, v=3),  # same ts → max tiebreak on v
        Row(name="B", timestamp=1, v=4),
    ]
    out = latest_per_key(spark.createDataFrame(rows), "name", "timestamp",
                         tiebreak_cols=["v"])
    got = {r["name"]: (r["timestamp"], r["v"]) for r in out.collect()}
    assert got == {"A": (9, 3), "B": (1, 4)}


def test_enrich_unknown_default(spark):
    # ingestor.go:120-121: probe miss → "unknown"
    stream = spark.createDataFrame([Row(name="AAPL"), Row(name="ZZZ")])
    dim = spark.createDataFrame([Row(name="AAPL", exchange="usstock")])
    got = {r["name"]: r["exchange"]
           for r in enrich_exchange(stream, dim).collect()}
    assert got == {"AAPL": "usstock", "ZZZ": "unknown"}


def test_authenticate_active_only(spark):
    # postgres.go:142-147: inactive keys rejected; sha256 match required
    import hashlib
    kh = hashlib.sha256(b"secret").hexdigest()
    keys = spark.createDataFrame([
        Row(client_id="c1", key_hash=kh, is_active=True),
        Row(client_id="c2", key_hash=kh, is_active=False),
    ])
    assert [r["client_id"] for r in authenticate(keys, "secret").collect()] == ["c1"]
    assert authenticate(keys, "wrong").count() == 0


def test_audit_key_usage_touches_used_only(spark):
    # K5 (postgres.go:156-160): only presented keys get last_used_at
    from market_data_ingestor_go_spark.operators.enrich import audit_key_usage
    keys = spark.createDataFrame(
        [Row(client_id="c1", key_hash="h1", is_active=True, last_used_at=None),
         Row(client_id="c2", key_hash="h2", is_active=True, last_used_at=None)],
        schema="client_id string, key_hash string, is_active boolean, last_used_at timestamp")
    used = spark.createDataFrame([Row(key_hash="h1")])
    out = {r["key_hash"]: r["last_used_at"]
           for r in audit_key_usage(keys, used).collect()}
    assert out["h1"] is not None and out["h2"] is None


def test_hash_and_wire_json(spark):
    df = spark.createDataFrame([Row(k="abc", n=1)])
    out = df.select(hash_api_key("k").alias("h"),
                    to_wire_json("k", "n").alias("w")).collect()[0]
    assert out["h"] == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"
    assert out["w"] == '{"k":"abc","n":1}'


def test_minhash_matches_exact_jaccard(spark):
    """The LSH path must recover exactly the exact-Jaccard pairs at the
    0.6 threshold on the fixture corpus (this justifies sharing the
    oracle between minhash_neardup and ngram_jaccard_neardup)."""
    docs = load_table(spark, SF, "documents")
    exact = {(r["doc_a"], r["doc_b"]) for r in
             ngram_jaccard_pairs(docs, threshold=0.6).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in
           minhash_near_dup_pairs(docs, threshold=0.6).collect()}
    assert exact, "fixture should contain injected near-dups"
    assert lsh == exact


def test_simhash_finds_neardups(spark):
    docs = load_table(spark, SF, "documents")
    exact = {(r["doc_a"], r["doc_b"]) for r in
             ngram_jaccard_pairs(docs, threshold=0.9).collect()}
    sim = {(r["doc_a"], r["doc_b"]) for r in simhash_pairs(docs).collect()}
    # SimHash at Hamming ≤3 should recover most of the ≥0.9 dup band.
    # Round-5 floor audit: the pipeline is deterministic (hash-seeded),
    # and the measured overlap on this fixture is EXACTLY 0.60 (15 of
    # 25 exact pairs; simhash fires 17) — so 0.6 is the measured value
    # itself, not a lax floor; any recall regression fails immediately.
    assert len(sim & exact) >= len(exact) * 0.6
    assert len(sim) <= len(exact) * 3  # and not fire wildly


def test_ann_recall_vs_bruteforce(spark):
    """Recall floors are MEANINGFUL (≥0.8): the pipeline is fully
    deterministic (hash-seeded planes/centroids, no RNG), so measured
    recall is exactly reproducible — 0.88 hyperplane / 0.86 IVF on this
    fixture — and any plane/probe/assignment regression fails here."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["q_id"], r["n_id"]) for r in knn_bruteforce(emb, q, k=5).collect()}
    ann = {(r["q_id"], r["n_id"]) for r in
           random_hyperplane_ann(emb, q, k=5, n_planes=4, multiprobe=2).collect()}
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.8, f"hyperplane ANN recall too low: {recall}"
    ivf = {(r["q_id"], r["n_id"]) for r in
           ivf_ann(emb, q, k=5, n_cells=4, n_probe_cells=3).collect()}
    ivf_recall = len(ivf & exact) / len(exact)
    assert ivf_recall >= 0.8, f"IVF ANN recall too low: {ivf_recall}"


def test_udtf_split_passages(spark):
    """§2.10 UDTF surface: document → overlapping passage rows, usable
    from both the DataFrame API and SQL LATERAL."""
    from market_data_ingestor_go_spark.functions.udtf import (
        make_split_passages, register_udtfs)
    SplitPassages = make_split_passages(window=4, stride=2)
    out = SplitPassages(F.lit("a b c d e f g")).collect()
    passages = [(r["passage_idx"], r["passage"]) for r in out]
    assert passages == [(0, "a b c d"), (1, "c d e f"), (2, "e f g")]

    assert register_udtfs(spark, window=8, stride=6)
    docs = load_table(spark, SF, "documents").limit(5)
    docs.createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        "SELECT d.doc_id, p.passage_idx, p.n_tokens "
        "FROM udtf_docs d, LATERAL split_passages(d.text) p").collect()
    assert len(rows) > 5  # fan-out happened
    assert all(r["n_tokens"] <= 8 for r in rows)


def test_lsh_pairs_recall_and_precision(spark):
    """The DEFAULT config (the one embedding_lsh_neardup declares) must
    honor the operator contract at its declared threshold: ≥0.9 of the
    exact twin's pairs (deterministic — measured 58/59 here), with
    precision exact via verification."""
    from market_data_ingestor_go_spark.operators.similarity import (
        cosine_pairs, lsh_cosine_pairs)
    emb = load_table(spark, SF, "embeddings")
    exact = {(r["a_id"], r["b_id"]) for r in cosine_pairs(emb, threshold=0.4).collect()}
    lsh = {(r["a_id"], r["b_id"]) for r in
           lsh_cosine_pairs(emb, threshold=0.4).collect()}
    assert lsh <= exact            # verification ⇒ precision exact
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"banded LSH recall too low: {recall}"


def test_lsh_verify_kernel_equals_expr(spark):
    """r15 optimization: lsh_cosine_pairs verifies its candidates with
    the pair-list Arrow kernel (guide §4.2 — replaces the interpreted
    zip_with+aggregate HOF cosine). The kernel preserves the left fold
    across dimensions and the sqrt(qsd·nsd) association, so its
    cosines must be BIT-IDENTICAL to the exact expression path
    (``cosine_pairs``) on the same pairs: at threshold -2 every
    candidate comes back with its cosine, and at the declared
    threshold the output is exactly those candidates with cos ≥ it."""
    from market_data_ingestor_go_spark.operators.similarity import (
        cosine_pairs, lsh_cosine_pairs)
    emb = load_table(spark, SF, "embeddings")
    cand = {(r["a_id"], r["b_id"]): r["cos"] for r in
            lsh_cosine_pairs(emb, threshold=-2.0).collect()}
    exact = {(r["a_id"], r["b_id"]): r["cos"] for r in
             cosine_pairs(emb, threshold=-2.0).collect()}
    assert len(cand) > 0 and cand.keys() <= exact.keys()
    diff = [p for p, c in cand.items() if repr(c) != repr(exact[p])]
    assert not diff, diff[:5]
    got = sorted((r["a_id"], r["b_id"], r["cos"]) for r in
                 lsh_cosine_pairs(emb, threshold=0.4).collect())
    want = sorted((a, b, c) for (a, b), c in cand.items() if c >= 0.4)
    assert got == want
    assert len(want) > 0


def test_compact_history(spark, tmp_path):
    from market_data_ingestor_go_spark.streaming.pipeline import (
        compact_history, read_history)
    import pathlib
    path = str(tmp_path / "hist")
    for i in range(5):  # five micro-batch epoch dirs → many small files
        spark.range(100).withColumn("batch", F.lit(i)) \
            .repartition(4).write.mode("overwrite") \
            .parquet(os.path.join(path, f"epoch={i}"))
    before = len(list(pathlib.Path(path).rglob("*.parquet")))
    assert before >= 20
    n_files = compact_history(spark, path, target_partitions=2)
    assert n_files == 2
    df = read_history(spark, path)
    assert "epoch" not in df.columns
    assert df.count() == 500  # every row preserved
    assert df.groupBy("batch").count().count() == 5
    # a second compaction over the already-compacted (epoch=-1) layout
    assert compact_history(spark, path, target_partitions=1) == 1
    assert read_history(spark, path).count() == 500


def test_multimodal_plumbing(spark):
    blobs = spark.createDataFrame(
        [Row(content=bytes(range(100))), Row(content=b"x" * 5000)])
    meta = attach_media_metadata(blobs).select("meta.*").collect()
    assert {m["byte_len"] for m in meta} == {100, 5000}
    assert all(len(m["content_sha256"]) == 64 for m in meta)

    feats = extract_image_features(blobs).collect()
    assert len(feats) == 2
    assert all(f["width"] >= 16 and f["n_channels"] == 3 for f in feats)

    frames = sample_frames(blobs, every_nth=2).collect()
    assert len(frames) >= 3  # 5000-byte blob fans out to multiple frames
    assert all(f["frame_idx"] % 2 == 0 for f in frames)


def test_image_decode_fallback_deterministic():
    """Non-PNG blobs (no jpeg/webp codec in this container) hit the
    documented deterministic fallback."""
    from market_data_ingestor_go_spark.operators.multimodal import _decode_image
    w1 = _decode_image(b"abc")
    assert w1 == _decode_image(b"abc")


def test_png_codec_roundtrip():
    """From-scratch stdlib PNG codec: encode→decode is the identity on
    the pixel buffer for every supported channel count; mean_luma is
    exact on constant images; resize_nearest preserves constants."""
    from market_data_ingestor_go_spark.functions.png_minimal import (
        mean_luma, png_decode, png_encode, resize_nearest)

    for ch in (1, 2, 3, 4):
        w, h = 7, 5
        px = bytes((i * 31 + c * 7) % 256 for i in range(w * h) for c in range(ch))
        assert png_decode(png_encode(w, h, ch, px)) == (w, h, ch, px)

    gray = png_encode(4, 4, 1, bytes([128]) * 16)
    gw, gh, gch, gpx = png_decode(gray)
    assert (gw, gh, gch) == (4, 4, 1)
    assert mean_luma(gch, gpx) == 128 / 255.0

    # nearest-neighbor resample: constant image stays constant; exact
    # size; identity when target == source
    const_px = bytes([17, 34, 51]) * (6 * 4)
    rs = resize_nearest(6, 4, 3, const_px, 3, 2)
    assert rs == bytes([17, 34, 51]) * (3 * 2)
    assert resize_nearest(6, 4, 3, const_px, 6, 4) == const_px


def test_png_decode_all_filters_and_palette():
    """Decode handles all 5 scanline filters and PLTE expansion; the
    filter step here is an independent pure-python twin of the spec
    (encoder side), so unfiltering is checked against ground truth."""
    import struct
    import zlib

    from market_data_ingestor_go_spark.functions.png_minimal import (
        PNG_SIGNATURE, _paeth, png_decode)

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    # One row per filter type (0..4), RGB 4x5
    w, h, ch = 4, 5, 3
    stride = w * ch
    px = bytes((i * 37 + 11) % 256 for i in range(stride * h))
    rows = [px[y * stride:(y + 1) * stride] for y in range(h)]
    raw = bytearray()
    prev = bytes(stride)
    for y, row in enumerate(rows):
        f = y % 5
        raw.append(f)
        for i in range(stride):
            left = row[i - ch] if i >= ch else 0
            up = prev[i]
            ul = prev[i - ch] if i >= ch else 0
            if f == 0:
                v = row[i]
            elif f == 1:
                v = row[i] - left
            elif f == 2:
                v = row[i] - up
            elif f == 3:
                v = row[i] - ((left + up) >> 1)
            else:
                v = row[i] - _paeth(left, up, ul)
            raw.append(v & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    blob = (PNG_SIGNATURE + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))
    assert png_decode(blob) == (w, h, ch, px)

    # palette image expands to RGB
    pal = bytes([250, 0, 0, 0, 250, 0, 0, 0, 250])  # 3 entries
    idx = bytes([0, 1, 2, 1])
    praw = bytearray()
    for y in range(2):
        praw.append(0)
        praw += idx[y * 2:(y + 1) * 2]
    pihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    pblob = (PNG_SIGNATURE + chunk(b"IHDR", pihdr) + chunk(b"PLTE", pal)
             + chunk(b"IDAT", zlib.compress(bytes(praw)))
             + chunk(b"IEND", b""))
    pw, ph, pch, ppx = png_decode(pblob)
    assert (pw, ph, pch) == (2, 2, 3)
    assert ppx == bytes([250, 0, 0, 0, 250, 0, 0, 0, 250, 0, 250, 0])

    # corrupt CRC must raise, not return garbage features
    bad = bytearray(blob)
    bad[-5] ^= 0xFF  # inside IEND CRC
    import pytest as _pytest
    with _pytest.raises(ValueError):
        png_decode(bytes(bad))


def _mk_jpeg(width, height, n_ch=3):
    """Synthetic JPEG marker stream: SOI + APP0 + SOF0 + SOS stub —
    enough structure for header parsing (no entropy data)."""
    import struct
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\0" + b"\0" * 9
    comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(n_ch))
    sof_body = struct.pack(">BHHB", 8, height, width, n_ch) + comps
    sof = b"\xff\xc0" + struct.pack(">H", 2 + len(sof_body)) + sof_body
    return b"\xff\xd8" + app0 + sof + b"\xff\xda" + struct.pack(">H", 4)


def test_jpeg_codec_roundtrip_and_hardening():
    """Baseline JPEG codec (functions/jpeg_minimal): encode→decode
    round-trips within quantization error on gray, color (4:4:4) and
    restart-marker streams; luma of a color stream equals the gray
    decode of the same Y plane; deterministic; corrupt/truncated
    blobs raise ValueError (never IndexError into the kernel)."""
    import pytest as _pytest

    from market_data_ingestor_go_spark.functions.jpeg_minimal import (
        jpeg_decode_luma, jpeg_encode_gray, jpeg_encode_ycbcr444,
        jpeg_mean_luma)

    w, h = 37, 23  # non-multiple of 8: edge replication + crop
    px = bytes([(x * 5 + y * 3) % 256 for y in range(h) for x in range(w)])

    blob = jpeg_encode_gray(w, h, px)
    W, H, nc, dec = jpeg_decode_luma(blob)
    assert (W, H, nc) == (w, h, 1)
    assert max(abs(a - b) for a, b in zip(px, dec)) <= 8  # quant error
    _, _, _, ml = jpeg_mean_luma(blob)
    assert abs(ml - sum(px) / len(px) / 255.0) < 0.01

    # flat image: DC-only path decodes exactly
    flat = jpeg_encode_gray(16, 8, bytes([200] * 128))
    assert set(jpeg_decode_luma(flat)[3]) == {200}

    # restart markers: same pixels as the unrestarted stream
    blob_r = jpeg_encode_gray(w, h, px, restart_interval=2)
    assert jpeg_decode_luma(blob_r)[3] == dec

    # color 4:4:4 (+ restarts): luma plane identical to the gray path
    cb = bytes([128] * (w * h))
    cr = bytes([(x * 7) % 256 for x in range(w * h)])
    blob_c = jpeg_encode_ycbcr444(w, h, px, cb, cr, restart_interval=3)
    Wc, Hc, ncc, dec_c = jpeg_decode_luma(blob_c)
    assert (Wc, Hc, ncc) == (w, h, 3) and dec_c == dec

    # determinism
    assert jpeg_encode_gray(w, h, px) == blob

    # hardening: truncation anywhere raises ValueError
    for cut in (len(blob_c) // 4, len(blob_c) // 2, len(blob_c) - 3):
        with _pytest.raises(ValueError):
            jpeg_decode_luma(blob_c[:cut])
    with _pytest.raises(ValueError):
        jpeg_decode_luma(b"\xff\xd8\xff\xc2" + b"\x00\x0b" + b"\x00" * 9)


def test_jpeg_luma_through_extract_image_features(spark):
    """e2e: a REAL baseline JPEG now gets true dims AND true mean
    luma through the mapInPandas kernel; a header-only stub (no
    entropy data) still falls back to dims + NULL luma; progressive
    markers fall back too."""
    from market_data_ingestor_go_spark.functions.jpeg_minimal import (
        jpeg_encode_gray)

    w, h = 24, 16
    px = bytes([(x * 11 + y * 7) % 256 for y in range(h) for x in range(w)])
    rows = [Row(content=jpeg_encode_gray(w, h, px)),
            Row(content=_mk_jpeg(640, 480))]  # headers only, no scan
    feats = {f["width"]: f for f in extract_image_features(
        spark.createDataFrame(rows)).collect()}
    real = feats[w]
    assert real["height"] == h and real["n_channels"] == 1
    assert abs(real["mean_luma"] - sum(px) / len(px) / 255.0) < 0.01
    assert feats[640]["mean_luma"] is None  # honest fallback


def _mk_mp4(duration_ms=5000, width=1280, height=720, n_frames=150):
    """Minimal ISO-BMFF box tree: ftyp + moov(mvhd, trak(tkhd,
    mdia/minf/stbl/stts))."""
    import struct

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    mvhd = box(b"mvhd", b"\0" * 12
               + struct.pack(">II", 1000, duration_ms) + b"\0" * 80)
    tkhd = box(b"tkhd", b"\0" * 76
               + struct.pack(">II", width << 16, height << 16))
    stts = box(b"stts", b"\0" * 4 + struct.pack(">I", 2)
               + struct.pack(">II", n_frames - 50, 512)
               + struct.pack(">II", 50, 512))
    trak = box(b"trak", tkhd + box(b"mdia", box(b"minf", box(b"stbl", stts))))
    return box(b"ftyp", b"isom\0\0\2\0isomiso2") + box(b"moov", mvhd + trak)


def test_media_header_metadata_parsers():
    """JPEG SOF and MP4 box-tree parsers return true header metadata;
    malformed input raises instead of returning garbage."""
    import pytest as _pytest

    from market_data_ingestor_go_spark.functions.media_meta_minimal import (
        jpeg_dimensions, mp4_metadata)

    assert jpeg_dimensions(_mk_jpeg(640, 480)) == (640, 480, 3)
    assert jpeg_dimensions(_mk_jpeg(17, 9, n_ch=1)) == (17, 9, 1)
    with _pytest.raises(ValueError):
        jpeg_dimensions(b"\xff\xd8\xff\xda\x00\x04")  # scan before SOF

    meta = mp4_metadata(_mk_mp4())
    assert meta["duration_ms"] == 5000
    assert meta["tracks"][0]["width"] == 1280
    assert meta["tracks"][0]["height"] == 720
    assert meta["tracks"][0]["n_samples"] == 150
    with _pytest.raises(ValueError):
        mp4_metadata(b"\0\0\0\x08ftyp")  # too short / no moov


def test_multimodal_header_metadata_e2e(spark):
    """Through mapInPandas: JPEG rows get TRUE dimensions with a NULL
    luma (not computable without entropy decode); MP4 rows get true
    duration/dims/frame count; unknown formats keep the stub path."""
    from market_data_ingestor_go_spark.operators.multimodal import (
        extract_video_metadata)

    jdf = spark.createDataFrame([Row(content=_mk_jpeg(640, 480)),
                                 Row(content=b"mystery-bytes" * 9)])
    feats = {f["width"]: f for f in extract_image_features(jdf).collect()}
    assert feats[640]["height"] == 480 and feats[640]["n_channels"] == 3
    assert feats[640]["mean_luma"] is None  # honest: no pixel decode
    assert len(feats) == 2  # stub row present with fake dims

    vdf = spark.createDataFrame([Row(content=_mk_mp4()),
                                 Row(content=b"not a video" * 40)])
    vids = {v["container"]: v for v in
            extract_video_metadata(vdf).collect()}
    real = vids["mp4"]
    assert (real["duration_ms"], real["width"], real["height"],
            real["n_frames"]) == (5000, 1280, 720, 150)
    assert vids["unknown-stub"]["n_frames"] >= 1


def test_png_codec_roundtrip_property():
    """Hypothesis: encode→decode is the identity for ANY dimensions,
    channel count and pixel content in the supported envelope."""
    from hypothesis import given, settings, strategies as st

    from market_data_ingestor_go_spark.functions.png_minimal import (
        png_decode, png_encode)

    @settings(max_examples=60, deadline=None)
    @given(w=st.integers(1, 12), h=st.integers(1, 12),
           ch=st.sampled_from([1, 2, 3, 4]), data=st.data())
    def prop(w, h, ch, data):
        px = bytes(data.draw(st.lists(
            st.integers(0, 255), min_size=w * h * ch,
            max_size=w * h * ch)))
        assert png_decode(png_encode(w, h, ch, px)) == (w, h, ch, px)

    prop()


def test_jpeg_codec_roundtrip_property():
    """Hypothesis: for ANY dimensions/content in the supported
    envelope, decode(encode(px)) decodes to the exact dimensions and
    stays within the honest DCT quantization bound (each coefficient
    off by ≤ q/2, pixel error ≤ 0.25·Σ q_uv/2 + slack — random noise
    genuinely approaches it); restart intervals never change the
    decoded pixels; smooth (gradient) content round-trips tightly
    (the case that matters for luma statistics)."""
    from hypothesis import given, settings, strategies as st

    from market_data_ingestor_go_spark.functions.jpeg_minimal import (
        QUANT_LUMA, jpeg_decode_luma, jpeg_encode_gray)

    # pixel-domain quantization bound: |Δpixel| ≤ 0.25·Σ_uv q_uv/2
    # (Cu,Cv ≤ 1, |cos| ≤ 1), plus 1 for the final integer rounding
    bound = 0.25 * sum(QUANT_LUMA) / 2 + 1

    @settings(max_examples=30, deadline=None)
    @given(w=st.integers(1, 20), h=st.integers(1, 20),
           rst=st.sampled_from([0, 1, 3]), data=st.data())
    def prop(w, h, rst, data):
        px = bytes(data.draw(st.lists(
            st.integers(0, 255), min_size=w * h, max_size=w * h)))
        blob = jpeg_encode_gray(w, h, px, restart_interval=rst)
        W, H, nc, dec = jpeg_decode_luma(blob)
        assert (W, H, nc) == (w, h, 1)
        assert max(abs(a - b) for a, b in zip(px, dec)) <= bound
        if rst:
            plain = jpeg_decode_luma(jpeg_encode_gray(w, h, px))[3]
            assert dec == plain

    prop()

    # smooth content: low-frequency coefficients dominate, where the
    # Annex-K steps are small — errors stay in single digits
    for w, h in ((19, 11), (8, 8), (33, 7)):
        px = bytes(min(255, x * 3 + y * 2)
                   for y in range(h) for x in range(w))
        dec = jpeg_decode_luma(jpeg_encode_gray(w, h, px))[3]
        assert max(abs(a - b) for a, b in zip(px, dec)) <= 9


def test_wav_codec_roundtrip_property():
    """Hypothesis: WAV encode→decode preserves format fields and the
    sample payload for every supported bit depth."""
    from hypothesis import given, settings, strategies as st

    from market_data_ingestor_go_spark.functions.wav_minimal import (
        pcm_samples, wav_decode, wav_encode)

    @settings(max_examples=60, deadline=None)
    @given(rate=st.sampled_from([8000, 16000, 44100]),
           n_ch=st.integers(1, 2),
           bits=st.sampled_from([8, 16, 24, 32]), data=st.data())
    def prop(rate, n_ch, bits, data):
        full = 1 << (bits - 1)
        n = data.draw(st.integers(1, 20)) * n_ch
        samples = data.draw(st.lists(
            st.integers(-full, full - 1), min_size=n, max_size=n))
        got_rate, got_ch, got_bits, pcm = wav_decode(
            wav_encode(rate, n_ch, bits, samples))
        assert (got_rate, got_ch, got_bits) == (rate, n_ch, bits)
        norm = pcm_samples(pcm, bits)
        assert len(norm) == len(samples)
        # quantization error bounded by one LSB at this depth
        assert all(abs(g - s / full) <= 2.0 / full
                   for g, s in zip(norm, samples))

    prop()


def test_wav_codec_roundtrip():
    """From-scratch RIFF/PCM codec: encode→decode identity for every
    supported bit depth; normalized samples and window RMS are exact
    on constant signals."""
    import math

    from market_data_ingestor_go_spark.functions.wav_minimal import (
        pcm_samples, wav_decode, wav_encode, window_rms)

    for bits in (8, 16, 24, 32):
        full = 1 << (bits - 1)
        samples = [0, full // 2, -full // 2, full - 1, -full]
        blob = wav_encode(8000, 1, bits, samples)
        rate, n_ch, got_bits, pcm = wav_decode(blob)
        assert (rate, n_ch, got_bits) == (8000, 1, bits)
        norm = pcm_samples(pcm, bits)
        assert len(norm) == len(samples)
        assert abs(norm[1] - 0.5) < 2.0 / full  # half-scale sample

    # constant half-scale 16-bit signal → RMS exactly 0.5 per window
    const = [16384] * 1600  # 0.2 s at 8 kHz
    blob = wav_encode(8000, 1, 16, const)
    rate, n_ch, bits, pcm = wav_decode(blob)
    rms = window_rms(pcm_samples(pcm, bits), n_ch, rate, window_ms=100)
    assert len(rms) == 2  # 0.2 s / 100 ms
    assert all(abs(r - 0.5) < 1e-9 for r in rms)

    # stereo mono-mix: L=+x, R=-x mixes to silence
    stereo = []
    for i in range(800):
        x = int(10000 * math.sin(i / 10.0))
        stereo += [x, -x]
    sb = wav_encode(8000, 2, 16, stereo)
    rate, n_ch, bits, pcm = wav_decode(sb)
    rms = window_rms(pcm_samples(pcm, bits), n_ch, rate, window_ms=100)
    assert all(r < 1e-4 for r in rms)

    # truncated data chunk raises
    import pytest as _pytest
    with _pytest.raises(ValueError):
        wav_decode(blob[:-10])


def test_multimodal_wav_real_decode(spark):
    """e2e through mapInPandas: real WAV fixtures get TRUE duration
    and RMS; non-WAV blobs still ride the deterministic fallback in
    the same batch."""
    from market_data_ingestor_go_spark.functions.wav_minimal import (
        wav_encode)
    from market_data_ingestor_go_spark.operators.multimodal import (
        extract_audio_features)

    # 0.5 s at 16 kHz mono 16-bit, constant quarter scale
    wav = wav_encode(16000, 1, 16, [8192] * 8000)
    df = spark.createDataFrame(
        [Row(content=wav), Row(content=b"not audio at all" * 10)])
    out = extract_audio_features(df, window_ms=250).collect()
    wav_rows = [r for r in out if r["duration_ms"] == 500]
    assert len(wav_rows) == 2  # 500 ms / 250 ms windows
    assert sorted(r["window_idx"] for r in wav_rows) == [0, 1]
    assert all(abs(r["rms"] - 0.25) < 1e-9 for r in wav_rows)
    assert len(out) > len(wav_rows)  # fallback rows present too


def test_multimodal_png_real_decode(spark):
    """e2e through mapInPandas: real PNG fixtures built in-test come
    back with TRUE dimensions/channels (not length-derived stub dims),
    and resize_images emits a decodable PNG at target size with the
    nearest-neighbor pixels."""
    from market_data_ingestor_go_spark.functions.png_minimal import (
        png_decode, png_encode)
    from market_data_ingestor_go_spark.operators.multimodal import (
        resize_images)

    fixtures = [
        (12, 34, 3),  # RGB
        (5, 9, 1),    # gray
        (8, 8, 4),    # RGBA
    ]
    blobs = []
    for i, (w, h, ch) in enumerate(fixtures):
        px = bytes((j * 13 + i) % 256 for j in range(w * h * ch))
        blobs.append(png_encode(w, h, ch, px))
    df = spark.createDataFrame([Row(content=b) for b in blobs])

    feats = {(f["width"], f["height"], f["n_channels"])
             for f in extract_image_features(df).collect()}
    assert feats == set(fixtures)

    # constant-gray image → exact luma through the whole Arrow path
    const = png_encode(4, 4, 1, bytes([128]) * 16)
    cdf = spark.createDataFrame([Row(content=const)])
    (crow,) = extract_image_features(cdf).collect()
    assert crow["mean_luma"] == 128 / 255.0

    # resize: valid PNG out, true target dims, constants preserved
    out = resize_images(cdf, target_w=6, target_h=6).collect()
    rw, rh, rch, rpx = png_decode(bytes(out[0]["resized"]))
    assert (rw, rh, rch) == (6, 6, 1)
    assert rpx == bytes([128]) * 36


def test_pack_greedy_invariants(spark):
    """First-fit greedy packing: capacity respected (unless a single
    doc exceeds cap), pack ids dense per bucket, deterministic, and
    every document packed exactly once."""
    from market_data_ingestor_go_spark.operators.training import pack_greedy
    from market_data_ingestor_go_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = pack_greedy(docs, cap=512, n_buckets=8).collect()
    assert len(out) == docs.count()  # every doc packed once
    assert len({r["doc_id"] for r in out}) == len(out)

    by_pack = {}
    for r in out:
        by_pack.setdefault((r["bucket"], r["pack_id"]), []).append(r)
    for (_, _), rows in by_pack.items():
        total = sum(r["n_tokens"] for r in rows)
        assert total <= 512 or len(rows) == 1  # oversize doc → own pack
        assert max(r["pack_fill"] for r in rows) == total
    # pack ids dense from 0 per bucket
    for b in {r["bucket"] for r in out}:
        ids = sorted({r["pack_id"] for r in out if r["bucket"] == b})
        assert ids == list(range(len(ids)))

    out2 = pack_greedy(docs, cap=512, n_buckets=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))  # deterministic


def test_pii_scrub_synthetic(spark):
    """PII scrub on rows that actually contain PII (the fixture corpus
    is word-salad, so the oracle parity run exercises only the
    zero-match path)."""
    from market_data_ingestor_go_spark.functions.text import (
        PII_PATTERNS, pii_count, scrub_pii)

    rows = [
        Row(text="contact bob.smith+x@corp.example.com or call +1 (415) 555-0199"),
        Row(text="server at 192.168.0.1 handles auth"),
        Row(text="no pii here at all"),
    ]
    df = spark.createDataFrame(rows)
    got = df.select(
        pii_count("text", PII_PATTERNS["email"]).alias("em"),
        pii_count("text", PII_PATTERNS["phone"]).alias("ph"),
        pii_count("text", PII_PATTERNS["ipv4"]).alias("ip"),
        scrub_pii("text").alias("clean")).collect()
    assert [r["em"] for r in got] == [1, 0, 0]
    assert [r["ph"] for r in got] == [1, 0, 0]
    assert [r["ip"] for r in got] == [0, 1, 0]
    assert "[PII]" in got[0]["clean"] and "@" not in got[0]["clean"]
    assert "555" not in got[0]["clean"]
    assert "192.168.0.1" not in got[1]["clean"]
    assert got[2]["clean"] == "no pii here at all"


def test_kmeans_codebook_ivf(spark):
    """Trained codebook: deterministic across runs; recall floor is the
    measured deterministic value − 0.05 (round-5 audit — the old 0.3
    floor would have rubber-stamped a training regression). Note the
    trained k=4/probe=2 config measures 0.66 here, below the
    k=4/probe=3 hash-sample config's 0.86 in test_ann_recall — fewer
    probed cells, not worse training."""
    from market_data_ingestor_go_spark.operators.similarity import (
        ivf_ann, knn_bruteforce, train_kmeans_codebook)
    from market_data_ingestor_go_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.limit(10)
    cb1 = train_kmeans_codebook(emb, k=4, n_iters=3)
    cb2 = train_kmeans_codebook(emb, k=4, n_iters=3)
    a = sorted(map(tuple, (tuple(r["embedding"]) for r in cb1.collect())))
    b = sorted(map(tuple, (tuple(r["embedding"]) for r in cb2.collect())))
    assert a == b  # deterministic training

    exact = {(r["q_id"], r["n_id"]) for r in knn_bruteforce(emb, q, k=5).collect()}
    got = {(r["q_id"], r["n_id"]) for r in
           ivf_ann(emb, q, k=5, n_probe_cells=2, centroids=cb1).collect()}
    recall = len(got & exact) / len(exact)
    # measured deterministic recall on this fixture: 0.66
    assert recall >= 0.61, f"trained-codebook IVF recall too low: {recall}"


def test_snapshot_diff_hand_case(spark):
    """Corpus snapshot diff on a hand pair: statuses and exact token
    deltas per class; whitespace/case-only edits are NOT changes
    (normalized fingerprint identity); NULL-text docs are excluded on
    both sides."""
    from market_data_ingestor_go_spark.operators.dedup import (
        snapshot_diff)

    old = spark.createDataFrame(
        [Row(doc_id=1, source="s", text="hello world foo"),
         Row(doc_id=2, source="s", text="the same text"),
         Row(doc_id=3, source="s", text="gone now"),
         Row(doc_id=4, source="s", text=None)])
    new = spark.createDataFrame(
        [Row(doc_id=1, source="s", text="hello brave new world"),
         Row(doc_id=2, source="s", text="THE   SAME text"),
         Row(doc_id=5, source="s", text="brand new doc here"),
         Row(doc_id=6, source="s", text=None)])
    got = {r["status"]: (r["n_docs"], r["token_delta"])
           for r in snapshot_diff(old, new).collect()}
    assert got == {"added": (1, 4),       # 4 new tokens
                   "removed": (1, -2),    # "gone now"
                   "changed": (1, 1),     # 3 -> 4 tokens
                   "unchanged": (1, 0)}   # case/ws-only edit


def test_snapshot_diff_accounting_invariants(spark):
    """The diff is an exact accounting identity on the fixture
    perturbation: per-class doc counts equal the id-set algebra
    (added = new∖old, removed = old∖new, changed+unchanged = old∩new)
    and the token deltas SUM to the exact corpus token movement."""
    from market_data_ingestor_go_spark.operators.dedup import (
        snapshot_diff)
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES
    from market_data_ingestor_go_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    old = load_table(spark, sf, "documents") \
        .select("doc_id", "source", "text")
    # the same deterministic "next crawl" the fixture query builds
    kept = old.filter("doc_id % 17 != 3")
    new = kept.withColumn(
        "text", F.when(F.col("doc_id") % 13 == 1,
                       F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text"))).unionByName(
        old.filter("doc_id % 23 = 2")
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "source",
                F.concat(F.col("text"), F.lit(" fresh")).alias("text")))
    out = snapshot_diff(old, new).collect()
    by_status: dict = {}
    delta_total = 0
    for r in out:
        by_status[r["status"]] = by_status.get(r["status"], 0) \
            + r["n_docs"]
        delta_total += r["token_delta"]

    o_ids = {r["doc_id"] for r in
             old.filter("text is not null").select("doc_id").collect()}
    n_ids = {r["doc_id"] for r in
             new.filter("text is not null").select("doc_id").collect()}
    assert by_status.get("added", 0) == len(n_ids - o_ids)
    assert by_status.get("removed", 0) == len(o_ids - n_ids)
    assert (by_status.get("changed", 0)
            + by_status.get("unchanged", 0)) == len(o_ids & n_ids)

    ntok = F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    tot_old = old.filter("text is not null").agg(ntok).collect()[0][0]
    tot_new = new.filter("text is not null").agg(ntok).collect()[0][0]
    assert delta_total == tot_new - tot_old
    # matches the declared fixture query exactly
    assert sorted(map(tuple, out)) == sorted(map(tuple, ALL_QUERIES[
        "corpus_snapshot_diff"](spark, sf).collect()))


def test_cross_corpus_span_extents_hand_case(spark):
    """Leak localization on a hand pair: a doc embedding one verbatim
    8-token reference run yields exactly that span; a full verbatim
    copy merges overlapping windows into one whole-doc span; two
    separated leaks stay two islands; docs without a matching window
    (or < 8 tokens) are absent."""
    from market_data_ingestor_go_spark.operators.dedup import (
        cross_corpus_span_extents)

    refrun = " ".join(f"r{i}" for i in range(1, 9))      # 8 tokens
    ref = spark.createDataFrame(
        [Row(doc_id=0, text=refrun + " r9")])            # windows 0,1
    junk = " ".join(f"j{i}" for i in range(9))           # 9 tokens
    train = spark.createDataFrame(
        [Row(doc_id=10, text="x " + refrun + " y"),      # one leak
         Row(doc_id=11, text=refrun + " r9"),            # verbatim copy
         Row(doc_id=12, text="a b c"),                   # too short
         Row(doc_id=13, text=refrun + " " + junk + " " + refrun)])
    got = {r["doc_id"]: r for r in
           cross_corpus_span_extents(train, ref, w=8).collect()}
    assert set(got) == {10, 11, 13}
    assert (got[10]["n_spans"], got[10]["leaked_tokens"],
            got[10]["max_span_tokens"]) == (1, 8, 8)
    assert (got[11]["n_spans"], got[11]["leaked_tokens"]) == (1, 9)
    assert (got[13]["n_spans"], got[13]["leaked_tokens"],
            got[13]["max_span_tokens"]) == (2, 16, 8)


def test_scrub_leaked_spans_hand_cases(spark):
    """The scrub transform on hand pairs: a mid-doc leak cuts exactly
    the leaked block (token-exact survivors, single-space rejoin); a
    verbatim copy drops whole-doc with NULL text; two separated leaks
    cut two islands and keep the separator; overlapping/contiguous
    windows merge into ONE span before cutting; clean and short docs
    pass through with ORIGINAL text verbatim (whitespace untouched);
    and tokens_removed + n_tokens_kept equals the doc's token count
    on every row."""
    from market_data_ingestor_go_spark.operators.dedup import (
        scrub_leaked_spans)

    refrun = " ".join(f"r{i}" for i in range(1, 9))      # 8 tokens
    ref = spark.createDataFrame(
        [Row(doc_id=0, text=refrun + " r9")])            # windows 0,1
    junk = " ".join(f"j{i}" for i in range(9))           # 9 tokens
    train = spark.createDataFrame(
        [Row(doc_id=10, text="x " + refrun + " y"),      # mid-doc cut
         Row(doc_id=11, text=refrun + " r9"),            # whole-doc drop
         Row(doc_id=12, text="a  b   c"),                # short: verbatim
         Row(doc_id=13, text=refrun + " " + junk + " " + refrun),
         Row(doc_id=14, text=None)])                     # NULL passthrough
    got = {r["doc_id"]: r for r in
           scrub_leaked_spans(train, ref, w=8).collect()}
    assert set(got) == {10, 11, 12, 13, 14}

    r = got[10]  # leak at positions 1..8 of 10 tokens
    assert (r["status"], r["text"]) == ("scrubbed", "x y")
    assert (r["n_spans"], r["tokens_removed"], r["n_tokens_kept"]) \
        == (1, 8, 2)

    r = got[11]  # overlapping windows 0 and 1 merge → whole doc
    assert (r["status"], r["text"]) == ("dropped", None)
    assert (r["n_spans"], r["tokens_removed"], r["n_tokens_kept"]) \
        == (1, 9, 0)

    r = got[12]  # < w tokens: clean, original whitespace preserved
    assert (r["status"], r["text"]) == ("clean", "a  b   c")
    assert (r["n_spans"], r["tokens_removed"], r["n_tokens_kept"]) \
        == (0, 0, 3)

    r = got[13]  # two islands (8 + 8), the 9 junk tokens survive
    assert (r["status"], r["text"]) == ("scrubbed", junk)
    assert (r["n_spans"], r["tokens_removed"], r["n_tokens_kept"]) \
        == (2, 16, 9)

    r = got[14]  # NULL text: clean, 0 tokens, text stays NULL
    assert (r["status"], r["text"], r["n_tokens_kept"]) \
        == ("clean", None, 0)

    # accounting identity: removed + kept == token count, every row
    from market_data_ingestor_go_spark.functions.text import token_count
    ntok = {r["doc_id"]: r["n"] for r in train.select(
        "doc_id", F.coalesce(token_count("text"), F.lit(0)).alias("n")
    ).collect()}
    for did, r in got.items():
        assert r["tokens_removed"] + r["n_tokens_kept"] == ntok[did], did


def test_snapshot_change_profile_hand_case(spark):
    """Change magnitude on a hand pair: exact Jaccard for a one-token
    edit, 0.0 for a full rewrite; unchanged and whitespace-only-edit
    docs are excluded (fingerprint identity), as are ids present in
    only one snapshot (inner join: the added/removed classes belong
    to snapshot_diff)."""
    from market_data_ingestor_go_spark.operators.dedup import (
        snapshot_change_profile)

    old = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d"),
         Row(doc_id=2, text="same here"),
         Row(doc_id=3, text="x  y"),
         Row(doc_id=4, text="p q"),
         Row(doc_id=5, text="only old")])
    new = spark.createDataFrame(
        [Row(doc_id=1, text="a b c x"),
         Row(doc_id=2, text="same here"),
         Row(doc_id=3, text="x y"),
         Row(doc_id=4, text="r s"),
         Row(doc_id=6, text="only new")])
    got = {r["doc_id"]: r for r in
           snapshot_change_profile(old, new).collect()}
    assert set(got) == {1, 4}
    r1 = got[1]
    assert (r1["n_old"], r1["n_new"], r1["n_common"]) == (4, 4, 3)
    assert r1["jacc"] == 3.0 / 5.0
    assert got[4]["jacc"] == 0.0 and got[4]["n_common"] == 0


def test_source_temperature_weights_hand_case(spark):
    """α=½ temperature weights on a hand corpus with exact sqrt
    values: the largest source anchors at rel-weight 1.0 and boost
    1.0; a 4x-smaller source gets rel-weight 0.5 (sqrt(1/4)) and
    boost 2.0 (sqrt upweights small groups); token_share is the exact
    proportional ratio; NULL-text docs are excluded."""
    from market_data_ingestor_go_spark.operators.training import (
        source_temperature_weights)

    rows = ([Row(doc_id=i, source="big", text="t " * 3 + "t")
             for i in range(4)]            # 4 docs x 4 tokens = 16
            + [Row(doc_id=9, source="small", text="a b c d")]  # 4
            + [Row(doc_id=10, source="small", text=None)])     # excluded
    out = {r["source"]: r for r in source_temperature_weights(
        spark.createDataFrame(rows), group_col="source").collect()}
    big, small = out["big"], out["small"]
    assert (big["n_docs"], big["n_tokens"]) == (4, 16)
    assert (small["n_docs"], small["n_tokens"]) == (1, 4)
    assert big["token_share"] == 16.0 / 20.0
    assert small["token_share"] == 4.0 / 20.0
    assert big["temp_rel_weight"] == 1.0 and big["upsample_boost"] == 1.0
    assert small["temp_rel_weight"] == 0.5      # sqrt(4)/sqrt(16)
    assert small["upsample_boost"] == 2.0       # 0.5 / (4/16)


def test_weighted_resample_invariants(spark):
    """Seeded stratified resampling: deterministic, subset of input,
    per-group keep rates within tolerance of the weights, and a
    different seed draws a different sample."""
    from market_data_ingestor_go_spark.operators.training import weighted_resample
    from market_data_ingestor_go_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    weights = {"en": 0.5, "de": 1.0, "fr": 0.25}
    s1 = weighted_resample(docs, weights)
    s2 = weighted_resample(docs, weights)
    ids1 = {r["doc_id"] for r in s1.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in s2.select("doc_id").collect()}
    assert ids1 == ids2  # deterministic
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert ids1 <= all_ids  # strict subset of the corpus

    base = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in
           s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, w in weights.items():
        if lang in base:
            rate = got.get(lang, 0) / base[lang]
            assert abs(rate - min(w, 1.0)) < 0.15, (lang, rate, w)
    # unlisted groups are kept whole
    for lang in set(base) - set(weights):
        assert got.get(lang, 0) == base[lang], lang

    s3 = weighted_resample(docs, weights, seed="resample:v2")
    ids3 = {r["doc_id"] for r in s3.select("doc_id").collect()}
    assert ids3 != ids1  # new seed, new draw


def test_multimodal_audio_plumbing(spark):
    """Audio kernel (STUB decode, real Arrow fan-out): one window row
    per second of stub-framed audio, deterministic."""
    from market_data_ingestor_go_spark.operators.multimodal import (
        extract_audio_features)
    blobs = spark.createDataFrame(
        [Row(content=bytes(range(256)) * 500),   # 128000 B → 4000 ms
         Row(content=b"\x01" * 64)])             # tiny → 1 window
    out = extract_audio_features(blobs).collect()
    by_digest = {}
    for r in out:
        by_digest.setdefault(r["content_sha256"], []).append(r)
    assert len(by_digest) == 2
    big = max(by_digest.values(), key=len)
    assert len(big) == 4  # 4000 ms / 1000 ms windows
    assert all(r["duration_ms"] == 4000 for r in big)
    assert all(r["rms"] > 0 for r in out)
    out2 = extract_audio_features(blobs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_shingles_short_docs_no_crash(spark):
    """Docs with fewer than n tokens must yield an empty shingle set
    (matching the oracle's len(w)>=n CASE), not crash on
    slice(w, 0, n) (advisor finding r2: sequence(0,-1) → [0,-1])."""
    from market_data_ingestor_go_spark.functions.text import (
        repetition_ratio, shingles)
    rows = [Row(text="one two"), Row(text="a"), Row(text="x y z"),
            Row(text="x y z x y z x y")]
    df = spark.createDataFrame(rows)
    out = df.select(
        shingles("text").alias("sh"),
        repetition_ratio("text").alias("rep")).collect()
    assert out[0]["sh"] == [] and out[0]["rep"] == 0.0
    assert out[1]["sh"] == [] and out[1]["rep"] == 0.0
    assert out[2]["sh"] == ["x y z"] and out[2]["rep"] == 0.0
    # 8 tokens → 6 trigrams total, distinct {xyz, yzx, zxy} → 1 - 3/6
    assert out[3]["sh"] == ["x y z", "y z x", "z x y"]
    assert abs(out[3]["rep"] - 0.5) < 1e-12


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """SCALING.md escape hatch: 1k identical docs put every doc in one
    bucket per band (quadratic candidates); the cap bounds candidates
    to C(cap,2) and reports how many members were dropped."""
    from pyspark.sql import Observation
    from market_data_ingestor_go_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures, shingle_df)
    from market_data_ingestor_go_spark.operators.cache import release_pinned

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate legal disclaimer text block").alias("text"))
    sig = minhash_signatures(shingle_df(docs), num_perms=16)

    obs = Observation("lsh_bucket_cap")
    capped = lsh_candidate_pairs(sig, num_bands=4, rows_per_band=4,
                                 max_bucket_size=10, cap_observation=obs)
    n_cand = capped.count()
    # identical docs → same 10 keepers (min ids) in every band's bucket
    assert n_cand == 45, n_cand  # C(10,2), not C(1000,2)=499500
    assert obs.get["dropped_members"] == 4 * 990  # 4 bands × (1000-10)
    assert obs.get["bucket_members"] == 4 * 1000
    release_pinned()


def test_minhash_cap_skew_stress_full_path(spark):
    """Round 5: the cap exercised through the DECLARED operator API
    (minhash_near_dup_pairs), not just the banding stage — 1k identical
    boilerplate docs, cap 8. Candidates stay bounded at C(8,2)=28
    through signature → banding → cap → exact-Jaccard verification,
    the survivors are the deterministic min-id prefix (same 8 ids in
    every band, so bands agree), every verified pair scores 1.0, and
    the Observation reports the exact dropped membership."""
    from pyspark.sql import Observation

    from market_data_ingestor_go_spark.operators.cache import release_pinned
    from market_data_ingestor_go_spark.operators.dedup import (
        minhash_near_dup_pairs)

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate legal disclaimer text block "
              "stamped on every document in the corpus").alias("text"))
    obs = Observation("minhash_cap_skew")
    pairs = minhash_near_dup_pairs(
        docs, threshold=0.6, num_perms=16, num_bands=4,
        max_bucket_size=8, cap_observation=obs).collect()
    assert len(pairs) == 28, len(pairs)  # C(8,2), not C(1000,2)=499500
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {
        (a, b) for a in range(8) for b in range(8) if a < b}
    assert all(r["jacc"] == 1.0 for r in pairs)
    assert obs.get["dropped_members"] == 4 * (1000 - 8)  # bands × overflow
    assert obs.get["bucket_members"] == 4 * 1000
    release_pinned()


def test_minhash_cap_passthrough_keeps_results(spark):
    """A cap far above real bucket sizes must not change results on a
    normal corpus."""
    docs = load_table(spark, SF, "documents")
    uncapped = {(r["doc_a"], r["doc_b"]) for r in
                minhash_near_dup_pairs(docs, threshold=0.6).collect()}
    capped = {(r["doc_a"], r["doc_b"]) for r in
              minhash_near_dup_pairs(docs, threshold=0.6,
                                     max_bucket_size=100).collect()}
    assert capped == uncapped


def test_neardup_clusters_transitive(spark):
    """Pairs (a,b),(b,c) must merge into ONE cluster labeled min(id) —
    near-dup similarity is not transitive, clustering makes it so."""
    from market_data_ingestor_go_spark.operators.dedup import neardup_clusters
    from market_data_ingestor_go_spark.operators.cache import release_pinned
    pairs = spark.createDataFrame(
        [Row(doc_a=2, doc_b=7), Row(doc_a=7, doc_b=5),   # chain {2,5,7}
         Row(doc_a=10, doc_b=11),                         # pair {10,11}
         Row(doc_a=20, doc_b=21), Row(doc_a=20, doc_b=22),
         Row(doc_a=21, doc_b=22)])                        # clique {20,21,22}
    got = {r["doc_id"]: r["cluster_id"]
           for r in neardup_clusters(pairs).collect()}
    release_pinned()
    assert got == {2: 2, 5: 2, 7: 2, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_spread_sizing(spark):
    """spread() derives fan-out from input bytes: small file-backed
    inputs get a few partitions (not defaultParallelism), non-file
    inputs fall back to full fan-out, and the no-op threshold leaves
    already-parallel scans untouched."""
    from market_data_ingestor_go_spark.operators.partitioning import spread
    docs = load_table(spark, SF, "documents")  # 65 KB at sf0.01
    n = spread(docs).rdd.getNumPartitions()
    par = spark.sparkContext.defaultParallelism
    assert 1 <= n <= max(4, par // 4), n  # size-derived, not 32
    synth = spark.range(100)  # non-file source: unknown size
    assert spread(synth).rdd.getNumPartitions() == par


def test_rolling_hashes_match_python_reference(spark):
    """Rabin-Karp window hashes match a pure-Python reference over
    varied docs (empty/short/repeating/long) — one Spark job, all
    cases at once."""
    import hashlib as _hl
    import random
    from market_data_ingestor_go_spark.functions.text import (
        ROLL_BASE, ROLL_MOD, rolling_window_hashes, token_hash_array)

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "x1", "Y2", "z"]
    texts = ["", "one", "a b c", " ".join("rep" for _ in range(12))] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40)))
        for _ in range(20)]

    def py_hashes(text, w=8):
        toks = text.strip().split() if text.strip() else [""]
        hs = [int(_hl.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
        if len(hs) < w:
            return []
        return [sum((hs[i + k] * pow(ROLL_BASE, w - 1 - k, ROLL_MOD))
                    % ROLL_MOD for k in range(w)) % ROLL_MOD
                for i in range(len(hs) - w + 1)]

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, text string")
    out = (df.select("i", token_hash_array("text").alias("hs"))
           .select("i", rolling_window_hashes("hs").alias("wh"))
           .collect())
    got = {r["i"]: list(r["wh"]) for r in out}
    for i, t in enumerate(texts):
        assert got[i] == py_hashes(t), (i, t)


def test_neardup_clusters_match_union_find(spark):
    """Min-label propagation matches a Python union-find on the shapes
    that stress it: a seeded chain with random extra edges, a long
    chain (worst case for propagation), a clique, a star centered at
    the max id, two-node islands, a deterministic random forest, and
    the fixture's cosine pair graph."""
    import random
    from market_data_ingestor_go_spark.operators.cache import release_pinned
    from market_data_ingestor_go_spark.operators.dedup import neardup_clusters
    from market_data_ingestor_go_spark.operators.similarity import (
        cosine_pairs_blocked)

    rng = random.Random(1)
    forest_rng = random.Random(8)
    emb = load_table(spark, SF, "embeddings")
    graphs = {
        # a short chain (multi-hop, which the fixture lacks) + random
        # extra edges
        "seeded": sorted({(i, i + 1) for i in range(10, 22)}
                         | {tuple(sorted(rng.sample(range(30), 2)))
                            for _ in range(12)}),
        "chain": [(i, i + 1) for i in range(100, 160)],
        "clique": [(a, b) for a in range(7) for b in range(a + 1, 7)],
        "star_max_center": [(i, 999) for i in range(5)],
        "islands": [(1, 2), (10, 11), (20, 21)],
        "random_forest": sorted({(min(a, b), max(a, b)) for a, b in
                                 ((forest_rng.randrange(400),
                                   forest_rng.randrange(400))
                                  for _ in range(300))
                                 if a != b}),
        "cosine_pairs": [(r["a_id"], r["b_id"]) for r in
                         cosine_pairs_blocked(emb, threshold=0.4)
                         .collect()],
    }
    assert graphs["cosine_pairs"], "fixture must contain cosine pairs"
    for name, edges in graphs.items():
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {n: find(n) for n in parent}

        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r["doc_id"]: r["cluster_id"]
               for r in neardup_clusters(df).collect()}
        release_pinned()
        assert got == expected, name


def test_pq_ann_recall_and_rerank(spark):
    """PQ ANN (16x16 codebooks, ADC shortlist 8x, exact re-rank):
    deterministic recall 0.84 on the fixture — floor 0.8; returned
    scores must be TRUE cosines (re-rank contract), so every returned
    (pair, cos) must appear in the brute-force scoring."""
    from market_data_ingestor_go_spark.operators.cache import release_pinned
    from market_data_ingestor_go_spark.operators.similarity import (
        pq_ann, train_pq_codebooks)
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact_rows = knn_bruteforce(emb, q, k=50).collect()
    exact_top5 = {(r["q_id"], r["n_id"]) for r in exact_rows if r["rn"] <= 5}
    true_cos = {(r["q_id"], r["n_id"]): r["cos"] for r in exact_rows}
    books = train_pq_codebooks(emb, m=16, k=16, n_iters=3)
    books.persist(); books.count()
    got = pq_ann(emb, q, books, k=5, shortlist=8).collect()
    release_pinned(); books.unpersist()
    pq = {(r["q_id"], r["n_id"]) for r in got}
    recall = len(pq & exact_top5) / len(exact_top5)
    assert recall >= 0.8, f"PQ recall too low: {recall}"
    for r in got:  # re-ranked scores are exact cosines
        key = (r["q_id"], r["n_id"])
        if key in true_cos:
            assert abs(r["cos"] - true_cos[key]) < 1e-12


def test_pq_index_serve_equals_encode_and_scan(spark):
    """The materialized-index serve path (pq_encode once →
    pq_ann_from_index) must return EXACTLY the rows of the
    encode-and-scan pq_ann over the same corpus — same codes, same
    ADC shortlist, same rerank, row for row."""
    from market_data_ingestor_go_spark.operators.cache import (
        release_pinned)
    from market_data_ingestor_go_spark.operators.similarity import (
        pq_ann, pq_ann_from_index, pq_encode, train_pq_codebooks)

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    books = train_pq_codebooks(emb, m=16, k=16, n_iters=3)
    books.persist(); books.count()
    direct = sorted(map(tuple, pq_ann(emb, q, books, k=5,
                                      shortlist=8).collect()))
    release_pinned()
    enc = pq_encode(emb, books).localCheckpoint(eager=True)
    indexed = sorted(map(tuple, pq_ann_from_index(
        enc, q, books, k=5, shortlist=8).collect()))
    release_pinned(); books.unpersist(); enc.unpersist()
    assert indexed == direct


def _construction_jobs(spark, build):
    """(jobs run while ``build()`` constructs its plan, the plan)."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"construction-{time.monotonic_ns()}"
    marker = f"{group}-marker"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the tracker in submission order: once a later
    # marker job shows up, every construction job is counted
    sc.setJobGroup(marker, marker)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 10
    while time.time() < deadline and not tracker.getJobIdsForGroup(marker):
        time.sleep(0.1)
    assert list(tracker.getJobIdsForGroup(marker))
    return len(tracker.getJobIdsForGroup(group)), out


def _pq_books_as_rows(spark, emb):
    """Trained codebooks given as rows, the way StreamingPQIndex holds
    them between epochs."""
    from market_data_ingestor_go_spark.operators.similarity import (
        train_pq_codebooks)

    rows = train_pq_codebooks(emb, m=4, k=4, n_iters=1).collect()
    return spark.createDataFrame(
        rows, "subspace INT, cell INT, cv ARRAY<DOUBLE>")


def test_pq_encode_builds_from_one_job(spark):
    """Building the encode plan runs exactly ONE driver job — the
    codebook collect, which also yields m and the sub-dim — against a
    codebook given as rows, the way StreamingPQIndex rebuilds it every
    epoch."""
    from market_data_ingestor_go_spark.operators.similarity import pq_encode

    emb = load_table(spark, SF, "embeddings")
    books = _pq_books_as_rows(spark, emb)
    jobs, enc = _construction_jobs(
        spark, lambda: pq_encode(emb.filter("vec_id < 8"), books))
    assert jobs == 1
    assert enc.count() == 8


def test_pq_ann_from_index_builds_from_one_job(spark):
    """Building the index-serve plan (every StreamingPQIndex.probe and
    every knn_ann_pq build) runs exactly ONE driver job: the codebook
    collect that yields m and the sub-dim."""
    from market_data_ingestor_go_spark.operators.similarity import (
        pq_ann_from_index, pq_encode)

    emb = load_table(spark, SF, "embeddings")
    books = _pq_books_as_rows(spark, emb)
    enc = pq_encode(emb.filter("vec_id < 40"), books).localCheckpoint(eager=True)
    q = emb.filter("vec_id < 3")
    jobs, hits = _construction_jobs(
        spark, lambda: pq_ann_from_index(enc, q, books, k=2, shortlist=2))
    assert jobs == 1
    assert hits.count() == 6  # k neighbours per query
    enc.unpersist()


def test_multimodal_resize_plumbing(spark):
    """Resize kernel, non-PNG fallback path: real Arrow plumbing,
    deterministic digest-tiled output of exactly target_w*target_h*3
    bytes (the real-PNG path is test_multimodal_png_real_decode)."""
    from market_data_ingestor_go_spark.operators.multimodal import (
        resize_images)
    df = spark.createDataFrame(
        [Row(content=bytes([i]) * (100 + i)) for i in range(5)])
    out = resize_images(df, target_w=8, target_h=8).collect()
    assert len(out) == 5
    for r in out:
        assert len(r["resized"]) == 8 * 8 * 3
        assert r["width"] == 8 and r["height"] == 8
    again = {r["content_sha256"]: r["resized"]
             for r in resize_images(df, target_w=8, target_h=8).collect()}
    assert all(again[r["content_sha256"]] == r["resized"] for r in out)


def test_gap_fill_locf_semantics(spark):
    from market_data_ingestor_go_spark.operators.timeseries import (
        gap_fill_locf)
    step = 10
    df = spark.createDataFrame(
        [("A", 0, 1.0), ("A", 3, 2.0),    # bucket 0: last obs wins
         ("A", 21, 5.0),                   # bucket 20; bucket 10 is a gap
         ("B", 35, 7.0)],                  # single-point key: 1-row grid
        "k string, ts_ms long, v double")
    out = {(r.k, r.bucket_start_ms): (r.value_locf, r.is_gap)
           for r in gap_fill_locf(df, "k", "ts_ms", "v", step).collect()}
    assert out == {
        ("A", 0): (2.0, False),    # max_by tiebreak: later ts wins
        ("A", 10): (2.0, True),    # gap carried forward
        ("A", 20): (5.0, False),
        ("B", 30): (7.0, False),
    }


def test_gap_fill_interpolate_semantics(spark):
    from market_data_ingestor_go_spark.operators.timeseries import (
        gap_fill_interpolate)
    df = spark.createDataFrame(
        [("A", 0, 1.0), ("A", 31, 4.0),   # two gaps: interp 2.0, 3.0
         ("A", 41, 9.0)],                  # then observed again
        "k string, ts_ms long, v double")
    out = {(r.k, r.bucket_start_ms): (r.value_interp, r.is_gap)
           for r in gap_fill_interpolate(df, "k", "ts_ms", "v", 10).collect()}
    assert out == {
        ("A", 0): (1.0, False),
        ("A", 10): (2.0, True),
        ("A", 20): (3.0, True),
        ("A", 30): (4.0, False),
        ("A", 40): (9.0, False),
    }


def test_salted_join_equals_plain_join(spark):
    """salted_join: row-for-row identical to the plain equi-join for
    inner and left, including unmatched left rows, while the physical
    join key is (key, salt)."""
    from market_data_ingestor_go_spark.operators.skew import salted_join

    big = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet") \
        .select("l_orderkey", "l_quantity")
    small = spark.read.parquet("/root/testdata/sf0.001/orders.parquet") \
        .filter("o_orderpriority = '1-URGENT'") \
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")

    for how in ("inner", "left"):
        plain = big.join(small, "l_orderkey", how)
        salted = salted_join(big, small, "l_orderkey", n_salts=8, how=how)
        assert salted.count() == plain.count()
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0


def test_count_min_sketch_properties(spark):
    """CMS invariants on the fixture corpus: one-sided error
    (estimate >= true, always), bounded size, mergeability (split
    sketch == whole-corpus sketch), and top-k recovery."""
    from market_data_ingestor_go_spark.operators.sketch import (
        count_min_build, count_min_estimate, count_min_merge,
        token_heavy_hitters)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d, w = 4, 1024
    sketch = count_min_build(docs, "text", d, w)
    assert sketch.count() <= d * w

    toks = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    true = toks.groupBy("tok").count()
    est = count_min_estimate(sketch, true.select("tok"), "tok", d, w)
    both = true.join(est, "tok")
    n = both.count()
    assert n == true.count()
    # one-sided: every estimate >= the true count
    assert both.filter(F.col("est_count") < F.col("count")).count() == 0
    # and the overwhelming majority are exact at this fixture scale
    exact = both.filter(F.col("est_count") == F.col("count")).count()
    assert exact / n > 0.9, exact / n

    # mergeability: sketches of two halves merge into the whole
    half_a = docs.filter("doc_id % 2 = 0")
    half_b = docs.filter("doc_id % 2 = 1")
    merged = count_min_merge(count_min_build(half_a, "text", d, w),
                             count_min_build(half_b, "text", d, w))
    assert merged.exceptAll(sketch).count() == 0
    assert sketch.exceptAll(merged).count() == 0

    # heavy hitters: CMS top-10 must contain the true top-5
    top_true = {r.tok for r in true.orderBy(F.col("count").desc(), "tok")
                .limit(5).collect()}
    top_est = {r.tok for r in token_heavy_hitters(docs, "text", k=10,
                                                  d=d, w=w).collect()}
    assert top_true <= top_est, (top_true, top_est)


def test_distinct_sketch_rollup_properties(spark):
    """HLL rollup invariants: union-of-partials is register-identical
    to the direct whole-input sketch (same estimate, bit-exact), and
    the estimate tracks the exact distinct count within HLL error at
    lgk=12 (<2% at fixture cardinalities)."""
    from market_data_ingestor_go_spark.operators.sketch import (
        distinct_sketch_partials, distinct_sketch_rollup)

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    partials = distinct_sketch_partials(
        li, "l_partkey", ["l_returnflag"],
        F.date_trunc("month", F.col("l_shipdate")), lgk=12)
    rolled = {r.l_returnflag: r.approx_distinct
              for r in distinct_sketch_rollup(
                  partials, ["l_returnflag"]).collect()}

    direct = {r.l_returnflag: r.approx
              for r in li.groupBy("l_returnflag")
              .agg(F.hll_sketch_estimate(
                  F.hll_sketch_agg("l_partkey", 12)).alias("approx"))
              .collect()}
    # registers combine by max → union of partials == direct build
    assert rolled == direct, (rolled, direct)

    exact = {r.l_returnflag: r.n
             for r in li.groupBy("l_returnflag")
             .agg(F.countDistinct("l_partkey").alias("n")).collect()}
    for flag, est in rolled.items():
        assert abs(est - exact[flag]) / exact[flag] < 0.02, (flag, est)


def test_theta_overlap_matches_exact(spark):
    """Theta set algebra vs the exact self-join twin: below the
    sketch's nominal capacity (lg_nom=14 > per-source shingle count)
    theta runs in exact mode, so |A|, |A∩B| and |A∪B| must EQUAL the
    exact counts — not just approximate them."""
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES

    sf = "/root/testdata/sf0.001"
    exact = {(r.source_a, r.source_b): r.n_shared
             for r in ALL_QUERIES["source_overlap_exact"](spark, sf)
             .collect()}
    theta_rows = ALL_QUERIES["source_overlap_theta"](spark, sf).collect()
    theta = {(r.source_a, r.source_b): r.n_shared for r in theta_rows}
    assert theta == exact, (theta, exact)
    # inclusion-exclusion closes: |A|+|B| == |A∩B|+|A∪B| (exact mode)
    for r in theta_rows:
        assert r.n_a + r.n_b == r.n_shared + r.n_union, r


def test_variant_tolerates_shape_drift(spark):
    """The VARIANT ingestion path's reason to exist: payloads whose
    shape drifts (missing keys, extra nesting, numeric widening) keep
    flowing — absent paths extract as NULL, extra fields are carried,
    and ints widen to the requested type without a schema change."""
    df = spark.createDataFrame(
        [('{"meta":{"source_id":1},"data":{"data":{"value":1.5,"k":7}}}',),
         ('{"meta":{"source_id":2},"data":{"data":{"value":2}}}',),      # no k
         ('{"data":{"data":{"value":3.25,"k":9,"extra":{"deep":true}}}}',),  # no meta
         ('{"legacy_value": 4.0}',)],                                    # old shape
        "wire string")
    v = df.select(F.parse_json("wire").alias("v"))
    rows = v.select(
        F.variant_get("v", "$.data.data.value", "double").alias("val"),
        F.variant_get("v", "$.data.data.k", "bigint").alias("k"),
        F.variant_get("v", "$.meta.source_id", "bigint").alias("src"),
        F.variant_get("v", "$.data.data.extra.deep", "boolean").alias("deep"),
        F.variant_get("v", "$.legacy_value", "double").alias("legacy"),
    ).collect()
    assert [tuple(r) for r in rows] == [
        (1.5, 7, 1, None, None),
        (2.0, None, 2, None, None),   # int 2 widens to double on request
        (3.25, 9, None, True, None),
        (None, None, None, None, 4.0),
    ]


def test_kll_quantile_rollup_rank_error(spark):
    """KLL's actual contract: the MEASURED rank of each estimated
    quantile is within the sketch's normalized rank-error bound
    (<3% at k=200; estimates themselves are randomized and not
    run-repeatable, so value equality is the wrong assertion).
    n_rows must be exact — KLL tracks n losslessly through merges."""
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES

    sf = "/root/testdata/sf0.01"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    est = ALL_QUERIES["value_quantiles_kll"](spark, sf).collect()

    exact_n = {r.l_returnflag: r.n for r in
               li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
               .collect()}
    for row in est:
        flag = row.l_returnflag
        assert row.n_rows == exact_n[flag], row
        for q, col in ((0.5, "q50"), (0.95, "q95"), (0.99, "q99")):
            measured_rank = (
                li.filter(F.col("l_returnflag") == flag)
                .agg((F.count(F.when(
                    F.col("l_extendedprice") <= row[col], 1))
                    / F.count("*")).alias("r")).first().r)
            assert abs(measured_rank - q) < 0.03, (flag, q, measured_rank)


def test_bloom_filter_properties(spark):
    """Bloom invariants: NO false negatives ever, measured fpp within
    2x the analytic bound at a deliberately tight sizing, bitwise-OR
    mergeability (split filter == whole-set filter, bit-identical),
    and the prefiltered semi join equals the plain semi join exactly."""
    from market_data_ingestor_go_spark.operators.sketch import (
        bloom_build, bloom_merge, bloom_might_contain, bloom_semi_join)
    import math

    part = spark.read.parquet("/root/testdata/sf0.01/part.parquet")
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    keys = part.filter(F.col("p_size") >= 48).select("p_partkey")
    n_keys = keys.count()
    assert n_keys > 50  # the fixture must exercise the filter

    # tight sizing so fpp is measurable — and deliberately NOT a
    # multiple of 64: the tail word must still answer membership
    # (regression: truncated word array false-negatived tail bits)
    n_bits, k = 1000, 4
    bloom = bloom_build(keys, "p_partkey", n_bits, k)
    assert bloom.count() <= (n_bits + 63) // 64

    flag = bloom_might_contain(bloom, F.col("p_partkey"), n_bits, k)
    probes = part.select("p_partkey", (F.col("p_size") >= 48).alias("truth"),
                         flag.alias("hit"))
    # no false negatives: every true member hits
    assert probes.filter("truth AND NOT hit").count() == 0
    # measured fpp within 2x of (1 - e^{-kn/m})^k
    neg = probes.filter("NOT truth")
    fp = neg.filter("hit").count()
    fpp = fp / neg.count()
    bound = (1 - math.exp(-k * n_keys / n_bits)) ** k
    assert fpp <= 2 * bound, (fpp, bound)

    # mergeability: OR of two halves is bit-identical to the whole
    merged = bloom_merge(bloom_build(keys.filter("p_partkey % 2 = 0"),
                                     "p_partkey", n_bits, k),
                         bloom_build(keys.filter("p_partkey % 2 = 1"),
                                     "p_partkey", n_bits, k))
    assert merged.exceptAll(bloom).count() == 0
    assert bloom.exceptAll(merged).count() == 0

    # exactness of the composed semi join, at production-ish sizing
    got = bloom_semi_join(li, keys, "l_partkey", "p_partkey",
                          n_bits=1 << 14, k=5)
    want = li.join(keys.withColumnRenamed("p_partkey", "l_partkey")
                   .distinct(), "l_partkey", "left_semi")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_passage_dedup_injected_boilerplate(spark):
    """Sub-document dedup must flag boilerplate repeated INSIDE
    otherwise-unique docs — exactly what document-level dedup misses.
    Hand-built corpus: a shared 8-word header glued onto unique
    bodies, plus one fully-unique doc and one exact doc pair."""
    from market_data_ingestor_go_spark.operators.dedup import (
        passage_dedup_stats)

    header = "terms of service apply to all content here"   # 8 words
    body = ["alpha beta gamma delta epsilon zeta eta theta",
            "one two three four five six seven eight"]
    rows = [
        Row(doc_id=1, text=f"{header} {body[0]}"),
        Row(doc_id=2, text=f"{header} {body[1]}"),
        Row(doc_id=3, text="lone unique words nothing repeats in this doc"),
        Row(doc_id=4, text="twin text with exactly eight unique words kept"),
        Row(doc_id=5, text="twin text with exactly eight unique words kept"),
    ]
    out = {r.doc_id: r for r in passage_dedup_stats(
        spark.createDataFrame(rows), "text", "doc_id", width=8).collect()}

    # docs 1/2: header passage flagged, unique body kept
    for d, b in ((1, body[0]), (2, body[1])):
        assert out[d].n_passages == 2 and out[d].n_dup == 1
        assert out[d].dup_ratio == 0.5
        assert out[d].scrubbed_n_chars == len(b)
    # doc 3: untouched
    assert out[3].n_dup == 0
    assert out[3].scrubbed_n_chars == len(rows[2].text)
    # exact twins: every passage repeats -> fully scrubbed
    for d in (4, 5):
        assert out[d].n_dup == out[d].n_passages
        assert out[d].dup_ratio == 1.0
        assert out[d].scrubbed_n_chars == 0

    # global invariant on the fixture corpus: scrub never grows text
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stats = passage_dedup_stats(docs)
    assert stats.join(docs, stats.doc_id == docs.doc_id) \
        .filter(F.col("scrubbed_n_chars") > F.col("n_chars")).count() == 0

    # empty/whitespace docs yield NO passages — two empty docs must
    # not flag each other 100% boilerplate (review catch)
    empties = spark.createDataFrame(
        [Row(doc_id=90, text=""), Row(doc_id=91, text="   "),
         Row(doc_id=92, text="one real doc here")])
    est = {r.doc_id: r for r in passage_dedup_stats(empties).collect()}
    assert set(est) == {92} and est[92].n_dup == 0

    # chunking is lossless: passages rejoin to the normalized text
    from market_data_ingestor_go_spark.operators.dedup import passage_df
    rebuilt = (passage_df(docs).groupBy("id")
               .agg(F.concat_ws(" ", F.transform(
                   F.array_sort(F.collect_list(F.struct("pidx", "passage"))),
                   lambda s: s["passage"])).alias("rebuilt")))
    norm = docs.select(F.col("doc_id").alias("id"), F.regexp_replace(
        F.trim("text"), r"\s+", " ").alias("norm"))
    assert rebuilt.join(norm, "id") \
        .filter(F.col("rebuilt") != F.col("norm")).count() == 0


def test_global_shuffle_shards_replay_permutation(spark, tmp_path):
    """The written shard table must REPLAY the global pseudo-random
    permutation: shards are contiguous slices of the md5 order (every
    key in shard s sorts before every key in shard s+1), and reading
    shard dirs in index order, rows in file order, reproduces
    orderBy(okey) exactly. Also pins determinism: a re-run with the
    same seed yields the identical assignment, a new seed doesn't."""
    from market_data_ingestor_go_spark.operators.training import (
        global_shuffle_shards, write_training_shards)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_shards = 8
    sh = global_shuffle_shards(docs, "doc_id", n_shards)

    # contiguity: shard boundaries partition the key order
    bounds = (sh.groupBy("shard")
              .agg(F.min("okey").alias("lo"), F.max("okey").alias("hi"))
              .orderBy("shard").collect())
    for prev, cur in zip(bounds, bounds[1:]):
        assert prev.hi < cur.lo, (prev, cur)

    # write, then read shards in index order = the global permutation
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, "doc_id", n_shards)
    expected = [r.doc_id for r in sh.orderBy("okey")
                .select("doc_id").collect()]
    got = []
    for s in range(n_shards):
        got += [r.doc_id for r in
                spark.read.parquet(f"{path}/shard={s}")
                .select("doc_id").collect()]
    assert got == expected

    # seeded determinism
    a = global_shuffle_shards(docs, "doc_id", n_shards).select("doc_id", "shard")
    b = global_shuffle_shards(docs, "doc_id", n_shards).select("doc_id", "shard")
    assert a.exceptAll(b).count() == 0
    c = global_shuffle_shards(docs, "doc_id", n_shards, seed="shuffle:v2")
    assert a.exceptAll(c.select("doc_id", "shard")).count() > 0


def test_ewma_closed_form_equals_recursion(spark):
    """EWMA invariants: the closed-form window formulation equals the
    sequential recursion exactly on BOTH paths, over a series long
    enough (120 rows) to cover the rn>=58 regression where a direct
    pow(2,rn)::decimal cast silently corrupts the scale factor
    (Spark routes double->decimal through the double's 17-digit
    string); and the fixture series bound for the decimal path holds."""
    from market_data_ingestor_go_spark.operators.timeseries import ewma

    vals = [round(((i * 37) % 499) + 0.01 * ((i * 53) % 100), 2)
            for i in range(120)]
    rows = [Row(k=1, t=i, x=float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows)

    want = []
    y = None
    for v in vals:
        y = v if y is None else 0.5 * v + 0.5 * y
        want.append(y)

    got_d = [r.ewma for r in ewma(df, "k", ["t"], "x").orderBy("t").collect()]
    assert all(abs(g - w) < 1e-9 * max(1.0, abs(w))
               for g, w in zip(got_d, want))

    # decimal path: contract is series <= 99 rows — exact there
    df99 = spark.createDataFrame(rows[:99])
    got_c = [r.ewma for r in ewma(df99, "k", ["t"], "x", value_decimals=2)
             .orderBy("t").collect()]
    for g, w in zip(got_c, want[:99]):
        assert abs(g - w) < 1e-9 * max(1.0, abs(w)), (g, w)

    # fixture contract for the declared query: series never exceeds
    # 99 rows/key AND scaled values fit DECIMAL(6,0) (a silent-NULL
    # overflow otherwise — review catch)
    for sf in ("0.001", "0.01", "0.1"):
        e = spark.read.parquet(f"/root/testdata/sf{sf}/events.parquet")
        mx = e.groupBy("user_id").count().agg(F.max("count")).first()[0]
        assert mx <= 99, (sf, mx)
        vmax = e.agg(F.max(F.abs(F.col("value")))).first()[0]
        assert vmax * 100 < 10 ** 6, (sf, vmax)


def test_ewma_chunked_lifts_series_bound(spark):
    """The chunked batch EWMA (segment closed form + pointer-jumping
    affine carry scan) must: (a) return BIT-IDENTICAL results to the
    unchunked operator when one segment suffices; (b) match the exact
    sequential recursion (computed in rational arithmetic — no float
    reference error) to float-accumulation precision on multi-segment
    series; (c) carry series far past the closed form's 99-row decimal
    bound — the r5 'weak' scale remedy, now implemented, not just
    documented."""
    from fractions import Fraction

    from market_data_ingestor_go_spark.operators.cache import (
        release_pinned)
    from market_data_ingestor_go_spark.operators.timeseries import (
        ewma, ewma_chunked)

    n = 1200  # > the double path's ~1020 bound, 12x the decimal bound
    vals = [round(((i * 37) % 499) + 0.01 * ((i * 53) % 100), 2)
            for i in range(n)]
    rows = [Row(k=1, t=i, x=float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows)
    coarse = (F.col("t") / 50).cast("bigint")  # 24 coarse time chunks

    # exact sequential recursion on the exact cent inputs
    want = []
    y = None
    for v in vals:
        x = Fraction(round(v * 100))
        y = x if y is None else Fraction(1, 2) * x + Fraction(1, 2) * y
        want.append(float(y) / 100.0)

    # (a) single segment == unchunked, bit for bit (99-row prefix)
    df99 = spark.createDataFrame(rows[:99])
    u = [r.ewma for r in ewma(df99, "k", ["t"], "x", value_decimals=2)
         .orderBy("t").collect()]
    c = [r.ewma for r in ewma_chunked(df99, "k", ["t"], "x",
                                      value_decimals=2, seg_rows=99,
                                      coarse_chunk=coarse)
         .orderBy("t").collect()]
    release_pinned()
    assert u == c

    # (b)+(c) decimal path, 1200 rows/key across 19 segments
    got = [r.ewma for r in ewma_chunked(df, "k", ["t"], "x",
                                        value_decimals=2, seg_rows=64,
                                        coarse_chunk=coarse)
           .orderBy("t").collect()]
    release_pinned()
    assert all(abs(g - w) < 1e-12 * max(1.0, abs(w))
               for g, w in zip(got, want))

    # double path on the same long series (no decimal contract)
    got_d = [r.ewma for r in ewma_chunked(df, "k", ["t"], "x",
                                          seg_rows=256,
                                          coarse_chunk=coarse)
             .orderBy("t").collect()]
    release_pinned()
    wf = []
    y = None
    for v in vals:
        y = v if y is None else 0.5 * v + 0.5 * y
        wf.append(y)
    assert all(abs(g - w) < 1e-9 * max(1.0, abs(w))
               for g, w in zip(got_d, wf))


def test_chunked_operators_boundary_conditions(spark):
    """Seam/boundary cases for the chunked per-key machinery: empty
    input; key lengths exactly at / one past the segment size (the
    second segment holds a single row — the carry scan's smallest
    step); window series exactly at / one past chunk_rows (the last
    window starts on the seam)."""
    from fractions import Fraction

    from market_data_ingestor_go_spark.operators.cache import (
        release_pinned)
    from market_data_ingestor_go_spark.operators.timeseries import (
        ewma_chunked, subsequence_search)

    empty = spark.createDataFrame([], "k INT, t LONG, x DOUBLE")
    assert ewma_chunked(empty, "k", ["t"], "x", seg_rows=8).count() == 0
    release_pinned()

    coarse = (F.col("t") / 7).cast("bigint")
    for n in (8, 9, 16, 17):  # seg_rows, +1, 2*seg_rows, +1
        vals = [round(1.0 + ((i * 13) % 50) * 0.01, 2) for i in range(n)]
        df = spark.createDataFrame(
            [Row(k=1, t=i, x=float(v)) for i, v in enumerate(vals)])
        got = [r.ewma for r in
               ewma_chunked(df, "k", ["t"], "x", value_decimals=2,
                            seg_rows=8, coarse_chunk=coarse)
               .orderBy("t").collect()]
        release_pinned()
        y = None
        for v, g in zip(vals, got):
            x = Fraction(round(v * 100))
            y = x if y is None else Fraction(1, 2) * x + Fraction(1, 2) * y
            ref = float(y) / 100.0
            assert abs(g - ref) < 1e-12 * max(1.0, abs(ref)), (n, g, ref)

    pat = [1.0, 2.0, 4.0, 2.0]
    for n in (12, 13):  # chunk_rows, +1 — last window starts on the seam
        df = spark.createDataFrame(
            [Row(k="A", t=i, v=float((i * 7) % 11)) for i in range(n)])
        plain = sorted(map(tuple, subsequence_search(
            df, "k", ["t"], "v", pat, k=10).collect()))
        chunked = sorted(map(tuple, subsequence_search(
            df, "k", ["t"], "v", pat, k=10, chunk_rows=12,
            coarse_chunk=(F.col("t") / 5).cast("bigint")).collect()))
        assert chunked == plain, n


def test_ewma_guards_fail_loud(spark):
    """ADVICE r5: the decimal path's preconditions are enforced, not
    just asserted for the shipped fixtures — a non-power-of-two decay
    raises immediately; a series past the closed-form bound fails
    loud at runtime (either the ANSI decimal overflow or the explicit
    raise_error guard, never a silent wrong value)."""
    import pytest

    from market_data_ingestor_go_spark.operators.timeseries import (
        ewma, ewma_chunked)

    rows = [Row(k=1, t=i, x=float(i % 7)) for i in range(120)]
    df = spark.createDataFrame(rows)
    with pytest.raises(ValueError, match="power of two"):
        ewma(df, "k", ["t"], "x", alpha=0.3, value_decimals=2)
    with pytest.raises(ValueError):
        ewma_chunked(df, "k", ["t"], "x", value_decimals=2,
                     seg_rows=500)  # > decimal bound per segment
    with pytest.raises(Exception, match="bounded to|OUT_OF_RANGE"):
        ewma(df, "k", ["t"], "x", value_decimals=2).collect()


def test_subsequence_search_chunked_bit_identical(spark):
    """The chunked sliding-window path (row-space chunks, m-1 carry
    rows) must return the EXACT same matches as the per-key window —
    same arrays => same distances => same ranks, bit for bit — while
    bounding any task's series to chunk_rows + m - 1 rows."""
    import pytest

    from market_data_ingestor_go_spark.operators.timeseries import (
        subsequence_search)

    vals = [float(((i * 37) % 499)) + 0.25 * (i % 13) for i in range(500)]
    rows = [Row(k="A", t=i, v=v) for i, v in enumerate(vals)]
    rows += [Row(k="B", t=i, v=vals[(7 * i) % 500]) for i in range(430)]
    df = spark.createDataFrame(rows)
    pat = [1.0, 2.0, 4.0, 8.0, 8.0, 4.0, 2.0, 1.0]
    coarse = (F.col("t") / 40).cast("bigint")

    plain = sorted(map(tuple, subsequence_search(
        df, "k", ["t"], "v", pat, k=5).collect()))
    for chunk in (8, 17, 64):  # = m, non-divisor, > m
        chunked = sorted(map(tuple, subsequence_search(
            df, "k", ["t"], "v", pat, k=5, chunk_rows=chunk,
            coarse_chunk=coarse).collect()))
        assert chunked == plain, chunk
    with pytest.raises(ValueError, match="chunk_rows"):
        subsequence_search(df, "k", ["t"], "v", pat, chunk_rows=4)


def test_keyed_row_numbers_match_global_window(spark):
    """The chunk-parallel global row numbers must equal the plain
    per-key window row_number for every row, for any coarse-chunk
    granularity (granularity shapes parallelism, never results)."""
    from market_data_ingestor_go_spark.operators.timeseries import (
        keyed_row_numbers)

    rows = [Row(k=str(i % 3), t=(i * 61) % 997, v=float(i))
            for i in range(997)]
    df = spark.createDataFrame(rows)
    w = Window.partitionBy("k").orderBy("t")
    want = {(r.k, r.t): r.rn for r in
            df.withColumn("rn", F.row_number().over(w)).collect()}
    for span in (1, 40, 10_000):
        got = keyed_row_numbers(
            df, "k", ["t"], (F.col("t") / span).cast("bigint"))
        assert {(r.k, r.t): r["__rn_g"] for r in got.collect()} == want


def test_ngram_containment_asymmetry(spark):
    """Containment is the asymmetric near-dup measure: a short doc
    inside a longer one scores 1.0 in the contained direction while
    its Jaccard stays far below any dedup threshold, and the reverse
    direction scores low."""
    from market_data_ingestor_go_spark.operators.dedup import (
        ngram_containment_pairs, ngram_jaccard_pairs)

    quote = "alpha beta gamma delta epsilon"
    host = quote + " " + " ".join(f"filler{i}" for i in range(40))
    rows = [Row(doc_id=1, text=quote), Row(doc_id=2, text=host),
            Row(doc_id=3, text="zeta eta theta iota kappa unrelated")]
    df = spark.createDataFrame(rows)
    cont = {(r.a_id, r.b_id): r.containment for r in
            ngram_containment_pairs(df, threshold=0.5).collect()}
    assert cont[(1, 2)] == 1.0          # quote fully contained
    assert (2, 1) not in cont           # host not contained in quote
    assert not any(3 in p for p in cont)
    jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert not jac                      # Jaccard misses the quote pair


def test_sparse_cosine_pairs_semantics(spark):
    """Inverted-index sparse cosine: identical docs score exactly 1.0;
    a doc sharing only ultra-common (df > cap) terms produces NO pair
    (the quadratic-blowup prune is also the stopword cut); disjoint
    docs produce no pair; scores are symmetric-free (a_id < b_id)."""
    from market_data_ingestor_go_spark.operators.cache import (
        release_pinned)
    from market_data_ingestor_go_spark.operators.dedup import (
        sparse_cosine_pairs)

    rows = [Row(doc_id=1, text="alpha beta gamma delta"),
            Row(doc_id=2, text="alpha beta gamma delta"),   # == doc 1
            Row(doc_id=3, text="epsilon zeta eta theta"),   # disjoint
            Row(doc_id=4, text="the the the the")]          # common-only
    rows += [Row(doc_id=10 + i, text=f"the unique{i}") for i in range(5)]
    out = sparse_cosine_pairs(
        spark.createDataFrame(rows), threshold=0.1, df_cap=3).collect()
    release_pinned()
    pairs = {(r.a_id, r.b_id): r.cos for r in out}
    assert pairs[(1, 2)] == 1.0
    assert all(a < b for a, b in pairs)
    # "the" has df 6 > 3 → pruned: doc 4 has no kept terms, and the
    # unique-term docs share nothing else
    assert not any(4 in p for p in pairs)
    assert not any(3 in p for p in pairs)


def test_cap_per_group_determinism_and_bound(spark):
    """Frequency cap invariants: never more than cap rows per group,
    kept set identical across runs/partitionings, different seed picks
    a different set, and groups under the cap pass through whole."""
    from market_data_ingestor_go_spark.operators.training import (
        cap_per_group)

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    kept = cap_per_group(docs, "source", cap=10)
    per = kept.groupBy("source").count().collect()
    assert all(r["count"] <= 10 for r in per)

    a = set(r.doc_id for r in kept.select("doc_id").collect())
    b = set(r.doc_id for r in
            cap_per_group(docs.repartition(7), "source", cap=10)
            .select("doc_id").collect())
    assert a == b  # partitioning-independent selection

    c = set(r.doc_id for r in
            cap_per_group(docs, "source", cap=10, seed="cap:v2")
            .select("doc_id").collect())
    assert a != c  # a fresh seed draws a fresh sample

    # cap above group size: everything survives
    assert cap_per_group(docs, "source", cap=10**6).count() == docs.count()


def test_gif_codec_roundtrip():
    """From-scratch stdlib GIF codec (real LZW): encode→decode is the
    identity on pixels across the LZW regimes — dictionary growth,
    the KwKwK special case, code-width increase, and the 4096-entry
    reset — plus interlaced row reordering."""
    import random

    from market_data_ingestor_go_spark.functions.gif_minimal import (
        _deinterlace, gif_decode, gif_encode, is_gif, mean_luma)

    pal4 = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
    # repetitive data: growth + KwKwK
    idx = ([0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3] * 50)[:800]
    blob = gif_encode(16, 50, pal4, idx)
    assert is_gif(blob)
    w, h, ch, rgb = gif_decode(blob)
    assert (w, h, ch) == (16, 50, 3)
    assert rgb == b"".join(bytes(pal4[i]) for i in idx)

    # constant image: exact luma
    cblob = gif_encode(8, 8, [(100, 150, 200)], [0] * 64)
    w, h, ch, rgb = gif_decode(cblob)
    want = (0.299 * 100 + 0.587 * 150 + 0.114 * 200) / 255.0
    assert abs(mean_luma(ch, rgb) - want) < 1e-12

    # 8-bit random, >4096 distinct runs: exercises the dict reset
    random.seed(11)
    pal256 = [(i, 255 - i, (i * 7) % 256) for i in range(256)]
    idx2 = [random.randrange(256) for _ in range(80 * 60)]
    w, h, ch, rgb2 = gif_decode(gif_encode(80, 60, pal256, idx2))
    assert (w, h) == (80, 60)
    assert rgb2 == b"".join(bytes(pal256[i]) for i in idx2)

    # interlace pass order: 8/8, 8/8+4, 4/4+2, 2/2+1
    rows = [[i] for i in range(10)]
    order = [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]
    assert _deinterlace([rows[i] for i in order]) == rows


def test_gif_features_through_mapinpandas(spark):
    """e2e through mapInPandas: real GIF fixtures built in-test come
    back with TRUE dimensions and mean luma through the same Arrow
    plumbing as PNG — the decoder dispatches by magic bytes."""
    from market_data_ingestor_go_spark.functions.gif_minimal import (
        gif_encode)
    from market_data_ingestor_go_spark.functions.png_minimal import (
        png_encode)
    from market_data_ingestor_go_spark.operators.multimodal import (
        extract_image_features)

    gif = gif_encode(12, 9, [(0, 0, 0), (255, 255, 255)],
                     [i % 2 for i in range(12 * 9)])
    png = png_encode(5, 4, 3, bytes([10, 20, 30]) * 20)
    df = spark.createDataFrame(
        [Row(content=bytearray(gif)), Row(content=bytearray(png))])
    out = {(r.width, r.height): (r.n_channels, r.mean_luma)
           for r in extract_image_features(df).collect()}
    assert (12, 9) in out and out[(12, 9)][0] == 3
    # 54/108 white pixels -> luma ~0.5 (exactly half of 255-luma)
    assert abs(out[(12, 9)][1] - 0.5) < 0.01
    assert (5, 4) in out


def test_gif_frame_sampling_real(spark):
    """Animated-GIF frame sampling is REAL: every n-th frame decodes
    via LZW and comes back as a standalone PNG that feeds straight
    into extract_image_features — codec composition through the same
    Arrow plumbing."""
    from market_data_ingestor_go_spark.functions.gif_minimal import (
        gif_encode_animated, gif_frames)
    from market_data_ingestor_go_spark.functions.png_minimal import (
        png_decode)
    from market_data_ingestor_go_spark.operators.multimodal import (
        extract_image_features, sample_frames)

    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    frames = [[(f + i) % 4 for i in range(6 * 4)] for f in range(7)]
    blob = gif_encode_animated(6, 4, pal, frames)
    assert len(list(gif_frames(blob))) == 7

    df = spark.createDataFrame([Row(content=bytearray(blob))])
    out = sample_frames(df, every_nth=3).collect()  # frames 0, 3, 6
    assert sorted(r.frame_idx for r in out) == [0, 3, 6]
    for r in out:
        w, h, ch, px = png_decode(bytes(r.frame))
        want = b"".join(bytes(pal[i]) for i in frames[r.frame_idx])
        assert (w, h, ch, px) == (6, 4, 3, want)

    # sampled frames flow into the image-feature kernel unchanged
    fdf = spark.createDataFrame(
        [Row(content=bytearray(bytes(out[0].frame)))])
    feat = extract_image_features(fdf).collect()[0]
    assert (feat.width, feat.height) == (6, 4)


def test_resize_gif_real(spark):
    """resize_images decodes GIF for real too: constant-color GIF in,
    constant-color PNG at target size out."""
    from market_data_ingestor_go_spark.functions.gif_minimal import (
        gif_encode)
    from market_data_ingestor_go_spark.functions.png_minimal import (
        png_decode)
    from market_data_ingestor_go_spark.operators.multimodal import (
        resize_images)

    blob = gif_encode(9, 7, [(40, 80, 120)], [0] * 63)
    df = spark.createDataFrame([Row(content=bytearray(blob))])
    r = resize_images(df, target_w=4, target_h=3).collect()[0]
    w, h, ch, px = png_decode(bytes(r.resized))
    assert (w, h, ch) == (4, 3, 3)
    assert px == bytes([40, 80, 120]) * 12


def test_length_bucket_scale_path_tracks_exact(spark):
    """The approx-boundary bucketing (one pass + scan-side assignment,
    no global sort) must produce near-equi-depth buckets: every bucket
    within 25% of n/8 on the fixture, and the assignment expression
    plan has no Window/Exchange."""
    from market_data_ingestor_go_spark.operators.training import (
        assign_length_bucket, length_bucket_boundaries)

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bounds = length_bucket_boundaries(docs, n_buckets=8)
    assert len(bounds) == 7 and bounds == sorted(bounds)

    assigned = docs.select(assign_length_bucket("text", bounds))
    sizes = {r.bucket: r["count"] for r in
             assigned.groupBy("bucket").count().collect()}
    n = docs.count()
    assert set(sizes) <= set(range(1, 9))
    for b, c in sizes.items():
        assert abs(c - n / 8) <= 0.25 * n / 8, (b, c, n / 8)

    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan, plan


def test_upsample_with_repeats_expectation(spark):
    """Repeat-factor mixing invariants: integer weights emit exactly
    w copies; fractional weights emit floor(w)..floor(w)+1 with the
    realized mean within 10% of w on the fixture; (id, copy) unique;
    same seed reproduces the identical draw under repartitioning."""
    from market_data_ingestor_go_spark.operators.training import (
        upsample_with_repeats)

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    weights = {"en": 2.0, "de": 2.5}
    up = upsample_with_repeats(docs, weights, "lang", "doc_id")

    per_doc = up.groupBy("lang", "doc_id").count()
    en = per_doc.filter("lang = 'en'").select("count").distinct().collect()
    assert [r["count"] for r in en] == [2]        # exact for integer w
    de = {r["count"] for r in per_doc.filter("lang = 'de'").collect()}
    assert de <= {2, 3}
    mean_de = (up.filter("lang = 'de'").count()
               / docs.filter("lang = 'de'").count())
    assert abs(mean_de - 2.5) < 0.25, mean_de
    zh = per_doc.filter("lang = 'zh'").select("count").distinct().collect()
    assert [r["count"] for r in zh] == [1]        # default weight 1.0

    assert up.select("doc_id", "copy").distinct().count() == up.count()
    again = upsample_with_repeats(docs.repartition(13), weights,
                                  "lang", "doc_id")
    assert up.select("doc_id", "copy").exceptAll(
        again.select("doc_id", "copy")).count() == 0


def test_gif_codec_property_roundtrip():
    """Property test (pure python, no Spark): encode→decode is the
    identity for ARBITRARY palette sizes, dimensions and index
    streams — the LZW state machine can't depend on lucky fixtures."""
    from hypothesis import given, settings, strategies as st

    from market_data_ingestor_go_spark.functions.gif_minimal import (
        gif_decode, gif_encode)

    @settings(max_examples=60, deadline=None)
    @given(st.data())
    def run(data):
        w = data.draw(st.integers(1, 24))
        h = data.draw(st.integers(1, 24))
        n_colors = data.draw(st.integers(1, 17))
        pal = [(data.draw(st.integers(0, 255)),
                data.draw(st.integers(0, 255)),
                data.draw(st.integers(0, 255))) for _ in range(n_colors)]
        idx = data.draw(st.lists(st.integers(0, n_colors - 1),
                                 min_size=w * h, max_size=w * h))
        dw, dh, ch, rgb = gif_decode(gif_encode(w, h, pal, idx))
        assert (dw, dh, ch) == (w, h, 3)
        assert rgb == b"".join(bytes(pal[i]) for i in idx)

    run()


def test_skew_report_identifies_hot_key(spark):
    """skew_report: a planted hot key tops the report with the right
    count/share/skew-factor, and the suggested salt factor covers its
    volume at the target task size."""
    from market_data_ingestor_go_spark.operators.skew import skew_report

    base = spark.range(1000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v"))
    hot = spark.range(4000).select(
        F.lit(999).alias("k"), F.col("id").alias("v"))
    df = base.unionByName(hot)

    rep = skew_report(df, "k", top_k=3, target_rows_per_task=1500)
    rows = rep.collect()
    assert rows[0]["k"] == 999 and rows[0]["n_rows"] == 4000
    assert abs(rows[0]["share"] - 4000 / 5000) < 1e-12
    # mean key size = 5000/101 rows; hot key is ~80x that
    assert rows[0]["skew_factor"] > 50
    assert rows[0]["suggested_salts"] == 3   # ceil(4000/1500)
    assert all(r["suggested_salts"] == 1 for r in rows[1:])


def test_filtered_knn_planner(spark):
    """Selectivity-aware filtered search: a selective predicate routes
    to exact brute force over the subset (result EQUALS the filtered
    ground truth — recall 1.0 where bucketed search measured 0.5-0.68
    on this subset), a permissive one routes to ANN with recall >=
    its tested floor."""
    from market_data_ingestor_go_spark.operators.similarity import (
        filtered_knn, knn_bruteforce)

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter("vec_id < 10")

    got_df, strat = filtered_knn(emb, q, F.col("label") == 1, k=5)
    assert strat == "exact"
    want = knn_bruteforce(emb.filter("label = 1"), q, k=5)
    assert got_df.exceptAll(want).count() == 0
    assert want.exceptAll(got_df).count() == 0

    got_df, strat = filtered_knn(emb, q, F.col("label") >= 0, k=5,
                                 brute_force_threshold=10)
    assert strat == "ann"
    truth = {(r["q_id"], r["n_id"]) for r in
             knn_bruteforce(emb, q, k=5).collect()}
    got = {(r["q_id"], r["n_id"]) for r in got_df.collect()}
    assert len(got & truth) / len(truth) >= 0.8

    # stats-estimate route (r5 verdict #3): a supplied subset_count
    # replaces the eager control-plane count — no job runs at plan
    # time (asserted via the scheduler's job counter) — and both
    # routes choose the same strategy for the same cardinality.
    n_sel = emb.filter("label = 1").count()
    sc = spark.sparkContext
    sc.setJobGroup("fk-estimate", "planner must not run an eager count")
    try:
        est_df, strat_est = filtered_knn(emb, q, F.col("label") == 1,
                                         k=5, subset_count=n_sel)
    finally:
        sc.setJobGroup("", "")
    assert strat_est == "exact"
    assert list(sc.statusTracker().getJobIdsForGroup("fk-estimate")) == []
    _, strat_est2 = filtered_knn(emb, q, F.col("label") >= 0, k=5,
                                 brute_force_threshold=10,
                                 subset_count=emb.count())
    assert strat_est2 == "ann"


def test_compressibility_signal(spark):
    """zlib compressibility as a curation signal: a template-stamped
    doc compresses far better than varied text, the ratio is
    deterministic, and on the fixture it moves WITH repetition_ratio
    (negative correlation: more n-gram repetition -> lower ratio)."""
    from market_data_ingestor_go_spark.functions.text import (
        compressibility_features, repetition_ratio)

    rows = [
        Row(doc_id=1, text=("terms of service apply " * 50).strip()),
        Row(doc_id=2, text=" ".join(
            f"w{i * 7919 % 9973}x{i}" for i in range(200))),
    ]
    out = {r.doc_id: r for r in compressibility_features(
        spark.createDataFrame(rows)).collect()}
    assert out[1].compression_ratio < 0.2          # template stamps
    assert out[2].compression_ratio > 0.4          # varied text
    again = {r.doc_id: r.compression_ratio for r in
             compressibility_features(spark.createDataFrame(rows))
             .collect()}
    # string ids pass through untouched (no int coercion, no rename)
    sdf = spark.createDataFrame([Row(doc_id="uuid-a1b2", text="x y z")])
    srow = compressibility_features(sdf).collect()[0]
    assert srow.doc_id == "uuid-a1b2" and srow.n_bytes == 5
    assert again[1] == out[1].compression_ratio    # deterministic

    # on the fixture the two signals agree directionally: the most
    # n-gram-repetitive decile compresses better than the least
    # (pointwise corr is length-confounded — deciles are the robust
    # check; measured 0.503 vs 0.559 mean ratio, deterministic)
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    comp = compressibility_features(docs)
    rep = docs.select("doc_id", repetition_ratio("text").alias("rep"))
    j = comp.join(rep, "doc_id").orderBy("rep", "doc_id").select(
        "compression_ratio").collect()
    lo = sum(r[0] for r in j[:50]) / 50
    hi = sum(r[0] for r in j[-50:]) / 50
    assert hi < lo - 0.02, (hi, lo)


def test_bpe_trainer_and_counts(spark):
    """Real BPE: on the classic toy corpus the first merges are the
    hand-derivable ones; more merges never increase any doc's token
    count (monotone); the JVM-side counts equal a pure-python
    reference tokenization exactly; training is deterministic."""
    from market_data_ingestor_go_spark.functions.bpe import (
        bpe_token_counts, tokenize_word, train_bpe_merges)

    toy = [Row(doc_id=1, text="low low low low low"),
           Row(doc_id=2, text="lower lower newest newest newest"),
           Row(doc_id=3, text="widest widest newest")]
    df = spark.createDataFrame(toy)
    merges = train_bpe_merges(df, n_merges=10, max_vocab=100)
    # 'lo' appears in low(5)+lower(2)=7 words -> but 'es' ('newest' 4
    # + 'widest' 2 = 6)... frequencies: ('l','o'): 7, ('e','s'): 6,
    # ('s','t'): 6, ('w','e'): 2+4+... hand-check top merge is (l,o)
    assert merges[0] == ("l", "o")
    assert ("lo", "w") in merges[:3]

    # counts: spark path == pure-python reference
    vocab = ["low", "lower", "newest", "widest"]
    out = {r.doc_id: r.n_bpe_tokens for r in
           bpe_token_counts(df, merges, vocab).collect()}
    import re
    for row in toy:
        want = sum(len(tokenize_word(w, merges))
                   for w in re.split(r"\s+", row.text.strip()))
        assert out[row.doc_id] == want, (row.doc_id, out[row.doc_id], want)

    # monotone in merges, deterministic training
    m5 = train_bpe_merges(df, n_merges=5, max_vocab=100)
    assert m5 == merges[:5]
    out5 = {r.doc_id: r.n_bpe_tokens for r in
            bpe_token_counts(df, m5, vocab).collect()}
    assert all(out[d] <= out5[d] for d in out)

    # OOV fallback is a conservative UPPER bound (merges can apply
    # to out-of-vocab words too — review catch): spark count >= true
    from market_data_ingestor_go_spark.functions.bpe import (
        bpe_token_counts as _btc)
    oov = spark.createDataFrame([Row(doc_id=7, text="lowestest")])
    got_oov = _btc(oov, merges, vocab).collect()[0]
    true_oov = len(tokenize_word("lowestest", merges))
    assert got_oov.n_bpe_tokens == len("lowestest") >= true_oov

    # fixture corpus: trained merges compress vs character count and
    # unseen words fall back exactly to their length
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fm = train_bpe_merges(docs, n_merges=50, max_vocab=1000)
    fv = [w for w, _ in __import__(
        "market_data_ingestor_go_spark.functions.bpe",
        fromlist=["_word_freqs"])._word_freqs(docs, "text", 1000)]
    counts = bpe_token_counts(docs, fm, fv)
    joined = counts.join(docs, counts.doc_id == docs.doc_id)
    # tokens strictly fewer than characters (merges fired corpus-wide)
    assert joined.filter(F.col("n_bpe_tokens") >= F.col("n_chars")) \
        .count() == 0


def test_media_kernels_survive_corrupt_blobs(spark):
    """A corrupt blob must never abort the stage (probed before the
    fix: a 7-byte GIF header crashed the whole job). Every media
    kernel degrades per-blob: image features emit the (-1,-1,-1,None)
    sentinel, resize takes the stub path, frame sampling yields zero
    frames, audio emits a sentinel window — and healthy blobs in the
    same batch still decode for real."""
    from market_data_ingestor_go_spark.functions.gif_minimal import (
        gif_encode)
    from market_data_ingestor_go_spark.operators.multimodal import (
        extract_audio_features, extract_image_features, resize_images,
        sample_frames)

    good = gif_encode(3, 2, [(10, 20, 30)], [0] * 6)
    bad_gif = good[:15]                       # truncated mid-header
    bad_png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 4
    bad_wav = b"RIFF\x00\x00\x00\x00WAVE"
    df = spark.createDataFrame([
        Row(content=bytearray(good)),
        Row(content=bytearray(bad_gif)),
        Row(content=bytearray(bad_png)),
    ])

    feats = extract_image_features(df).collect()
    assert len(feats) == 3
    dims = sorted((r.width, r.height) for r in feats)
    assert dims == [(-1, -1), (-1, -1), (3, 2)]

    rs = resize_images(df, target_w=2, target_h=2).collect()
    assert len(rs) == 3 and all(r.resized for r in rs)

    fr = sample_frames(df, every_nth=1).collect()
    # the healthy gif yields one real PNG frame; the corrupt gif
    # vanishes quietly; the non-gif blob keeps its declared video
    # stub row (not a PNG payload)
    import hashlib

    from market_data_ingestor_go_spark.functions.png_minimal import (
        png_decode)
    good_digest = hashlib.sha256(good).hexdigest()
    real = [r for r in fr if r.content_sha256 == good_digest]
    assert len(real) == 1 and real[0].frame_idx == 0
    assert png_decode(bytes(real[0].frame))[:2] == (3, 2)
    bad_digest = hashlib.sha256(bad_gif).hexdigest()
    assert all(r.content_sha256 != bad_digest for r in fr)

    au = extract_audio_features(
        spark.createDataFrame([Row(content=bytearray(bad_wav))])).collect()
    assert len(au) == 1 and au[0].window_idx == -1


def test_subsequence_search_scale_invariance(spark):
    """Z-normalized subsequence search: a pattern recurring at 10x
    amplitude matches with ~zero distance (scale/offset invariance —
    the point of z-normalization); constant windows are excluded; the
    per-key result has exactly k rows ranked by distance."""
    from market_data_ingestor_go_spark.operators.timeseries import (
        subsequence_search)

    vals = [1.0, 2.0, 4.0, 8.0, 4.0, 2.0, 1.0, 1.0, 1.0,
            10.0, 20.0, 40.0, 80.0, 40.0, 20.0, 10.0]
    rows = [Row(k="A", t=i, v=v) for i, v in enumerate(vals)]
    rows += [Row(k="B", t=i, v=5.0) for i in range(12)]  # constant key
    out = subsequence_search(
        spark.createDataFrame(rows), "k", ["t"], "v",
        [1.0, 2.0, 4.0, 8.0, 4.0, 2.0, 1.0], k=2).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.k, []).append(r)
    assert "B" not in by_key            # zero-variance: no z-norm
    a = sorted(by_key["A"], key=lambda r: r.rn)
    assert [r.win_start for r in a] == [0, 9]
    assert all(abs(r.dist) < 1e-9 for r in a)


def test_semdedup_rule_and_coverage(spark):
    """SemDeDup (similarity.py::semdedup): (1) the greedy min-id rule
    holds exactly — a vector is dropped iff some smaller-id vector
    shares one of its probe cells at cosine >= threshold; (2) pair
    coverage vs the GLOBAL exact graph (the semantic_dedup_clusters
    twin) meets the measured-deterministic floor; (3) the output is
    partition-order stable."""
    from market_data_ingestor_go_spark.operators.similarity import (
        assign_cells, cosine_pairs, semdedup, train_kmeans_codebook)

    e = load_table(spark, SF, "embeddings")
    cents = train_kmeans_codebook(e, k=16)
    out = semdedup(e, threshold=0.4, centroids=cents, n_probes=2)
    rows = out.collect()
    assert len(rows) == e.count()
    dropped = {r["vec_id"] for r in rows if not r["kept"]}

    # exact-rule reference from the global pair graph + probe cells
    cells = {r["n_id"]: set(r["cells"]) for r in
             assign_cells(e, cents, n_probes=2).collect()}
    pairs = [(p["a_id"], p["b_id"])
             for p in cosine_pairs(e, threshold=0.4).collect()]
    expect_dropped = {b for a, b in pairs if cells[a] & cells[b]}
    assert dropped == expect_dropped

    # measured-deterministic coverage floor (k=16, p=2 on the
    # fixture: 0.814 measured; deterministic k-means => exact reruns)
    covered = sum(1 for a, b in pairs if a in dropped or b in dropped)
    assert covered / len(pairs) >= 0.81

    # multiprobe strictly widens the single-probe candidate set
    d1 = {r["vec_id"] for r in
          semdedup(e, threshold=0.4, centroids=cents).collect()
          if not r["kept"]}
    assert d1 <= dropped and len(dropped) > len(d1)

    # partition-order stability
    rows2 = semdedup(e.repartition(7), threshold=0.4,
                     centroids=cents, n_probes=2).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_embedding_centroid_drift_hand_case(spark):
    """Exact-decimal centroids and fold-cosine on a hand case: known
    mean vectors, the exact IEEE cosine value (same association as
    the operator: dot / sqrt(dot·dot)), identical groups at cosine
    1.0, and the decimal-sum path immune to row order (reversed input
    gives bit-identical centroids)."""
    import math

    from market_data_ingestor_go_spark.operators.similarity import (
        centroid_table, embedding_centroid_drift)

    rows = [Row(vec_id=0, label=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, label=0, embedding=[0.0, 1.0]),
            Row(vec_id=2, label=1, embedding=[1.0, 0.0]),
            Row(vec_id=3, label=2, embedding=[0.5, 0.5])]
    df = spark.createDataFrame(rows)
    cents = {r["grp"]: (r["n_vecs"], r["centroid"])
             for r in centroid_table(df).collect()}
    assert cents[0] == (2, [0.5, 0.5])
    assert cents[1] == (1, [1.0, 0.0])
    assert cents[2] == (1, [0.5, 0.5])

    out = {(r["group_a"], r["group_b"]): r
           for r in embedding_centroid_drift(df).collect()}
    want01 = 0.5 / math.sqrt(0.5 * 1.0)       # dot/sqrt(na*nb), exact
    assert out[(0, 1)]["centroid_cos"] == want01
    assert out[(0, 2)]["centroid_cos"] == 1.0  # identical centroids
    assert (out[(0, 1)]["n_a"], out[(0, 1)]["n_b"]) == (2, 1)

    # row-order independence: the decimal sums make the centroid a
    # function of the multiset, not the fold order
    rev = spark.createDataFrame(list(reversed(rows))).repartition(3)
    cents2 = {r["grp"]: (r["n_vecs"], r["centroid"])
              for r in centroid_table(rev).collect()}
    assert cents2 == cents


def test_jl_projection_properties(spark):
    """Achlioptas JL transform (similarity.py::jl_project): (1) the
    distortion distribution matches the lemma on the fixture —
    unbiased mean, bounded spread at d'=16 (values are deterministic,
    so the pins are exact); (2) doubling the projection width
    tightens concentration (variance ~ 2/d'); (3) output is
    partition-order stable and seed-sensitive.

    NOT pinned: fine-grained kNN recall — the fixture's embeddings
    are near-random (max cosine ~0.5), so neighbors sit barely above
    the bulk and ±35% distance noise at d'=16 legitimately scrambles
    rankings (measured recall@5 0.14). JL here is the distance-
    preserving compression stage; ranking fidelity needs either more
    dims or an exact rerank over a shortlist."""
    from pyspark.sql import functions as F

    from market_data_ingestor_go_spark.operators.similarity import (
        jl_project)
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES

    r = ALL_QUERIES["jl_projection_distortion"](spark, SF).collect()[0]
    assert r["n_pairs"] == 4950
    assert 0.95 < r["mean_ratio"] < 1.05          # unbiased
    assert r["n_within_40pct"] == 3852            # deterministic pin

    # concentration improves with width: recompute at d'=32
    e = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 100)
    def within(out_dim):
        p = jl_project(e, 64, out_dim)
        base = e.select("vec_id",
                        F.col("embedding").cast("array<double>").alias("v")) \
            .join(p, "vec_id")
        d2 = lambda x, y: F.aggregate(
            F.zip_with(x, y, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, t: acc + t)
        a = base.select(F.col("vec_id").alias("a_id"),
                        F.col("v").alias("va"), F.col("jl_vec").alias("pa"))
        b = base.select(F.col("vec_id").alias("b_id"),
                        F.col("v").alias("vb"), F.col("jl_vec").alias("pb"))
        # jl_project scales by 1/sqrt(out_dim), so the ratio is
        # already unbiased at any width; when-guarded division (ANSI
        # rejects 0/0 if Catalyst reorders the filter conjuncts)
        return (a.join(b, F.col("a_id") < F.col("b_id"))
                .select((d2(F.col("pa"), F.col("pb")).alias("d2p")),
                        d2(F.col("va"), F.col("vb")).alias("d2v"))
                .filter(F.col("d2v") > 0)
                .select(F.when(F.col("d2v") > 0,
                               F.col("d2p") / F.col("d2v")).alias("r"))
                .filter((F.col("r") >= 0.6) & (F.col("r") <= 1.4))
                .count())
    assert within(32) > 3852

    # stability + seed sensitivity
    p1 = sorted(map(tuple, jl_project(e, 64, 16).collect()))
    p2 = sorted(map(tuple,
                    jl_project(e.repartition(7), 64, 16).collect()))
    assert p1 == p2
    p3 = sorted(map(tuple, jl_project(e, 64, 16, seed="jl:v2").collect()))
    assert p1 != p3

    # a mismatched in_dim fails loud instead of silently producing a
    # 100%-NULL projection (zip_with null-padding — review catch)
    with pytest.raises(Exception, match="expected 32-d"):
        jl_project(e, 32, 16).collect()


def test_drawdown_chunked_equals_plain_window(spark):
    """drawdown_chunked ≡ the plain per-key cumulative-max window,
    BIT-exact, on the fixture events (weekly chunks) AND on a
    single-chunk span (expression-degenerate case); NULL keys
    survive the null-safe join-back."""
    from market_data_ingestor_go_spark.operators.timeseries import (
        drawdown_chunked)
    from market_data_ingestor_go_spark.plans.queries import _events

    e = _events(spark, SF)
    w = (Window.partitionBy("event_type")
         .orderBy("ts_ms", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    plain = {r["event_id"]: (r["peak"], r["dd"]) for r in
             e.withColumn("peak", F.max("value").over(w))
              .withColumn("dd", F.col("peak") - F.col("value"))
              .select("event_id", "peak", "dd").collect()}
    for span in (604800000, 1 << 62):      # weekly; single chunk
        ch = {r["event_id"]: (r["peak"], r["dd"]) for r in
              drawdown_chunked(e, "event_type", ["ts_ms", "event_id"],
                               "value", F.expr(f"ts_ms div {span}"))
              .select("event_id", "peak", "dd").collect()}
        assert ch == plain, span

    # NULL key: its rows form their own partition, like the window
    rows = [Row(k=None, t=1, v=5.0), Row(k=None, t=2, v=3.0),
            Row(k="a", t=1, v=1.0)]
    out = {(r["k"], r["t"]): r["peak"] for r in
           drawdown_chunked(spark.createDataFrame(rows), "k", ["t"],
                            "v", (F.col("t") / 2).cast("long"))
           .collect()}
    assert out == {(None, 1): 5.0, (None, 2): 5.0, ("a", 1): 1.0}


def test_pagerank_fixed_point_exact_and_keepers(spark):
    """Fixed-point PageRank (operators/graph.py): (1) ranks equal an
    exact Python implementation of the integer recurrence BIT-for-bit
    (the whole point of the fixed-point design); (2) rank mass
    concentrates on hubs (a star center outranks its leaves); (3)
    rank-based keeper selection picks the hub where min-id would pick
    an arbitrary leaf; (4) partition-order stable."""
    from market_data_ingestor_go_spark.operators.graph import (
        SCALE, cluster_keepers_by_rank, pagerank_fixed_point)

    # star: 9 is the hub of {5,6,7,8}; plus a disjoint pair {1,2}
    pairs = [(5, 9), (6, 9), (7, 9), (8, 9), (1, 2)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src LONG, dst LONG")
    got = {r["node"]: r["pr_scaled"]
           for r in pagerank_fixed_point(edges, n_iters=10).collect()}

    # exact Python twin of the integer recurrence
    es = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    nodes = sorted({x for e in es for x in e})
    deg = {}
    for s, _ in es:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    r0 = SCALE // n
    base = (3 * r0) // 20
    r = {v: r0 for v in nodes}
    for _ in range(10):
        s_in = {v: 0 for v in nodes}
        for a, b in es:
            s_in[b] += r[a] // deg[a]
        r = {v: base + (17 * s_in[v]) // 20 for v in nodes}
    assert got == r

    # hub concentration + keeper policy
    assert got[9] > max(got[v] for v in (5, 6, 7, 8))
    clusters = spark.createDataFrame(
        [(v, 5) for v in (5, 6, 7, 8, 9)] + [(1, 1), (2, 1)],
        "doc_id LONG, cluster_id LONG")
    ranks = pagerank_fixed_point(edges, n_iters=10)
    keep = {r["cluster_id"]: r["keeper_id"] for r in
            cluster_keepers_by_rank(ranks, clusters).collect()}
    assert keep[5] == 9          # the hub, NOT min-id 5
    assert keep[1] in (1, 2)     # symmetric pair: tie broken by id
    assert keep[1] == 1          # equal ranks -> smaller id

    # partition stability
    got2 = {r["node"]: r["pr_scaled"] for r in
            pagerank_fixed_point(edges.repartition(5),
                                 n_iters=10).collect()}
    assert got == got2


# ------------------------------------------------------------------
# Progressive JPEG (r8: functions/jpeg_progressive_minimal)
# ------------------------------------------------------------------


def test_jpeg_progressive_bit_identical_to_baseline():
    """Progressive refinement is lossless over the quantized
    coefficients, so a full scan script must reproduce the EXACT
    pixels of the baseline codec (same quant table, same rounding) —
    a far stronger oracle than a tolerance bound. Covers: default
    script (DC first/refine + banded AC first/refine), interleaved
    DC scans (YCbCr 4:4:4), restart markers, spectral-selection-only,
    and a 3-level successive-approximation script (Al=2,1,0) that
    exercises EOB-run + buffered-correction-bit interplay."""
    import random

    from market_data_ingestor_go_spark.functions.jpeg_minimal import (
        jpeg_decode_luma, jpeg_encode_gray, jpeg_encode_ycbcr444)
    from market_data_ingestor_go_spark.functions.jpeg_progressive_minimal \
        import (is_progressive_jpeg, jpeg_decode_luma_progressive,
                jpeg_encode_gray_progressive,
                jpeg_encode_ycbcr444_progressive)

    rnd = random.Random(42)
    for (w, h) in [(16, 16), (24, 17), (40, 33)]:
        px = bytes(rnd.randrange(256) for _ in range(w * h))
        base = jpeg_decode_luma(jpeg_encode_gray(w, h, px))
        blob = jpeg_encode_gray_progressive(w, h, px)
        assert is_progressive_jpeg(blob)
        assert jpeg_decode_luma_progressive(blob) == base

    w, h = 32, 24
    y = bytes(rnd.randrange(256) for _ in range(w * h))
    cb = bytes(rnd.randrange(256) for _ in range(w * h))
    cr = bytes(rnd.randrange(256) for _ in range(w * h))
    base_c = jpeg_decode_luma(jpeg_encode_ycbcr444(w, h, y, cb, cr))
    for ri in (0, 1, 3):
        got = jpeg_decode_luma_progressive(
            jpeg_encode_ycbcr444_progressive(w, h, y, cb, cr,
                                             restart_interval=ri))
        assert got == base_c, f"restart_interval={ri}"

    px = bytes(rnd.randrange(256) for _ in range(40 * 33))
    base_g = jpeg_decode_luma(jpeg_encode_gray(40, 33, px))
    spec_only = [("dc", 0, 0, 0, 0), ("ac", 1, 5, 0, 0),
                 ("ac", 6, 63, 0, 0)]
    deep = [("dc", 0, 0, 0, 2), ("dc", 0, 0, 2, 1), ("dc", 0, 0, 1, 0),
            ("ac", 1, 2, 0, 2), ("ac", 3, 9, 0, 2), ("ac", 10, 63, 0, 2),
            ("ac", 1, 2, 2, 1), ("ac", 3, 9, 2, 1), ("ac", 10, 63, 2, 1),
            ("ac", 1, 2, 1, 0), ("ac", 3, 9, 1, 0), ("ac", 10, 63, 1, 0)]
    for scans in (spec_only, deep):
        for ri in (0, 2):
            got = jpeg_decode_luma_progressive(jpeg_encode_gray_progressive(
                40, 33, px, scans=scans, restart_interval=ri))
            assert got == base_g


def test_jpeg_progressive_corrupt_blob_hardening():
    """Truncations and bit flips raise ValueError only (the
    mapInPandas kernel's corrupt-blob route) — never IndexError or
    struct.error; baseline decoder still refuses SOF2 streams."""
    import pytest as _pytest

    from market_data_ingestor_go_spark.functions.jpeg_minimal import (
        jpeg_decode_luma)
    from market_data_ingestor_go_spark.functions.jpeg_progressive_minimal \
        import jpeg_decode_luma_progressive, jpeg_encode_gray_progressive

    blob = jpeg_encode_gray_progressive(16, 16, bytes(range(256)))
    with _pytest.raises(ValueError):
        jpeg_decode_luma(blob)  # baseline must refuse SOF2
    for cut in (2, 10, 50, len(blob) // 2, len(blob) - 3):
        try:
            jpeg_decode_luma_progressive(blob[:cut])
        except ValueError:
            pass  # the only acceptable exception type
    for pos in (20, 40, 80, 120, 160):
        bad = bytearray(blob)
        bad[pos] ^= 0xFF
        try:
            jpeg_decode_luma_progressive(bytes(bad))
        except ValueError:
            pass


def test_jpeg_progressive_through_extract_image_features(spark):
    """e2e: a progressive JPEG now gets TRUE mean luma through the
    mapInPandas kernel (r7 and earlier returned NULL); the
    still-stubbed class (header-only stream) keeps the honest
    dims + NULL fallback."""
    from market_data_ingestor_go_spark.functions.jpeg_progressive_minimal \
        import jpeg_encode_gray_progressive

    w, h = 24, 16
    px = bytes([(x * 11 + y * 7) % 256 for y in range(h) for x in range(w)])
    rows = [Row(content=jpeg_encode_gray_progressive(w, h, px)),
            Row(content=_mk_jpeg(640, 480))]  # headers only, no scan
    feats = {f["width"]: f for f in extract_image_features(
        spark.createDataFrame(rows)).collect()}
    real = feats[w]
    assert real["height"] == h and real["n_channels"] == 1
    assert abs(real["mean_luma"] - sum(px) / len(px) / 255.0) < 0.01
    assert feats[640]["mean_luma"] is None  # honest fallback


# ------------------------------------------------------------------
# Similarity kernels: product code keeps one path per operator (the
# numpy kernels and driver-side trainers); the Column-expression and
# distributed forms below are the references each is pinned against
# bit for bit
# ------------------------------------------------------------------


def _train_sample(c, id_col, max_train_rows):
    """The trainers' deterministic hash-sample: the smallest
    ``max_train_rows`` rows by (xxhash64(id), id)."""
    return (c.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(max_train_rows))


def _kmeans_distributed(df, k, n_iters=5, max_train_rows=4096,
                        id_col="vec_id", vec_col="embedding"):
    """Distributed Lloyd loop over the training sample: per-row
    max-cosine argmax over a broadcast codebook row (ties to the larger
    cent_id), DECIMAL(27,12) exact means, 2 cluster actions per
    iteration."""
    from market_data_ingestor_go_spark.operators.cache import pin
    from market_data_ingestor_go_spark.operators.similarity import (
        as_double, cosine)

    spark = df.sparkSession
    c = df.select(F.col(id_col).alias("n_id"), as_double(vec_col).alias("nv"))
    c = pin(_train_sample(c, "n_id", max_train_rows))
    init = (c.orderBy(F.xxhash64(F.col("n_id")), F.col("n_id")).limit(k)
            .select("nv").collect())
    codebook = [list(r["nv"]) for r in init]

    for _ in range(n_iters):
        cents = spark.createDataFrame(
            [Row(cent_id=i, cv=v) for i, v in enumerate(codebook)],
            "cent_id INT, cv ARRAY<DOUBLE>")
        cent_row = F.broadcast(
            cents.agg(F.collect_list(F.struct("cent_id", "cv")).alias("cb")))
        assigned = (
            c.join(cent_row, F.lit(True))
            .withColumn("cell", F.array_max(F.transform(
                F.col("cb"),
                lambda ct: F.struct(cosine(F.col("nv"), ct["cv"]).alias("ccos"),
                                    ct["cent_id"].alias("cent_id"))))["cent_id"])
            .select("cell", F.posexplode("nv").alias("dim", "x")))
        means = (
            assigned.groupBy("cell", "dim")
            .agg((F.sum(F.col("x").cast("decimal(27,12)")).cast("double")
                  / F.count("*")).alias("mu"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "mu"))).alias("dm"))
            .select("cell", F.col("dm.mu").alias("cv"))
            .collect())
        new_codebook = list(codebook)  # empty cells keep old centroid
        for r in means:
            new_codebook[r["cell"]] = list(r["cv"])
        codebook = new_codebook
    return [(i, v) for i, v in enumerate(codebook)]


def _pq_distributed(df, m, k, n_iters, max_train_rows=4096,
                    id_col="vec_id", vec_col="embedding"):
    """Distributed per-subspace Lloyd loop over the training sample:
    rows explode to (subspace, subvector), argmin of scv − 2.0·⟨sv,cv⟩
    over a broadcast codebook row (ties to the smaller cell), means
    partial-aggregated on (subspace, cell, dim)."""
    from market_data_ingestor_go_spark.operators.cache import pin
    from market_data_ingestor_go_spark.operators.similarity import (
        as_double, dot)

    spark = df.sparkSession
    v = as_double(vec_col)
    dim = len(df.select(v.alias("v")).first()["v"])
    sub = dim // m
    base = pin(_train_sample(
        df.select(F.col(id_col).alias("id"), v.alias("v")),
        "id", max_train_rows))
    subs = F.array(*[
        F.struct(F.lit(s).alias("s"),
                 F.slice(F.col("v"), s * sub + 1, sub).alias("sv"))
        for s in range(m)])
    rows = base.select("id", F.explode(subs).alias("x")) \
        .select("id", "x.s", "x.sv")
    init = (base.orderBy(F.xxhash64(F.col("id")), F.col("id")).limit(k)
            .collect())
    codebooks = {s: [list(r["v"])[s * sub:(s + 1) * sub] for r in init]
                 for s in range(m)}

    for _ in range(n_iters):
        cb_row = F.broadcast(spark.createDataFrame(
            [Row(s=s, cell=c, cv=codebooks[s][c])
             for s in range(m) for c in range(k)],
            "s INT, cell INT, cv ARRAY<DOUBLE>")
            .groupBy("s")
            .agg(F.collect_list(F.struct("cell", "cv")).alias("cb")))
        assigned = (
            rows.join(cb_row, "s")
            .withColumn("cell", F.array_min(F.transform(
                F.col("cb"),
                lambda ct: F.struct(
                    (dot(ct["cv"], ct["cv"])
                     - F.lit(2.0) * dot(F.col("sv"), ct["cv"])).alias("d"),
                    ct["cell"].alias("cell"))))["cell"])
            .select("s", "cell", F.posexplode("sv").alias("dim", "x")))
        means = (
            assigned.groupBy("s", "cell", "dim")
            .agg((F.sum(F.col("x").cast("decimal(27,12)")).cast("double")
                  / F.count("*")).alias("mu"))
            .groupBy("s", "cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "mu"))).alias("dm"))
            .select("s", "cell", F.col("dm.mu").alias("cv"))
            .collect())
        new_books = {s: list(codebooks[s]) for s in range(m)}
        for r in means:  # empty cells keep their previous centroid
            new_books[r["s"]][r["cell"]] = list(r["cv"])
        codebooks = new_books
    return [((s, c), codebooks[s][c]) for s in range(m) for c in range(k)]


def _assign_cells_expr(df, centroids, n_probes=1,
                       id_col="vec_id", vec_col="embedding"):
    """Column-expression cell assignment: reverse(array_sort(struct(
    ccos, cent_id))) over a broadcast codebook row — ties to the larger
    cent_id."""
    from market_data_ingestor_go_spark.operators.similarity import (
        as_double, cosine)

    c = df.select(F.col(id_col).alias("n_id"), as_double(vec_col).alias("nv"))
    cents = centroids.select(F.col(id_col).alias("cent_id"),
                             as_double(vec_col).alias("cv"))
    cent_row = F.broadcast(
        cents.agg(F.collect_list(F.struct("cent_id", "cv")).alias("cb")))
    scored = F.reverse(F.array_sort(F.transform(
        F.col("cb"),
        lambda ct: F.struct(cosine(F.col("nv"), ct["cv"]).alias("ccos"),
                            ct["cent_id"].alias("cent_id")))))
    out = (c.join(cent_row, F.lit(True))
           .withColumn("_sc", scored)
           .withColumn("cell", F.col("_sc")[0]["cent_id"]))
    if n_probes > 1:
        out = out.withColumn(
            "cells", F.slice(F.col("_sc"), 1, n_probes)["cent_id"])
    return out.drop("cb", "_sc")


def _pq_encode_expr(df, codebooks, id_col="vec_id", vec_col="embedding"):
    """Column-expression PQ encode: per-subspace array_min over
    struct(csd − 2.0·dot, cell) (ties to the smaller cell); nsd_hat
    the left fold of csd[code_s] over subspaces in cb order."""
    from market_data_ingestor_go_spark.operators.similarity import (
        _pq_cb_row, _pq_codebook_rows, as_double, dot)

    _, m, sub_dim = _pq_codebook_rows(codebooks)
    cb_row = _pq_cb_row(codebooks)
    c = df.select(F.col(id_col).alias("n_id"), as_double(vec_col).alias("nv"))
    subs = F.array(*[F.slice(F.col("nv"), s * sub_dim + 1, sub_dim)
                     for s in range(m)])
    return (
        c.join(cb_row, F.lit(True))
        .withColumn("sv", subs)
        .withColumn("codes", F.transform(
            F.col("cb"),
            lambda b: F.array_min(F.transform(
                b["cents"],
                lambda ct: F.struct(
                    (ct["csd"] - F.lit(2.0) * dot(
                        F.element_at(F.col("sv"), b["subspace"] + 1),
                        ct["cv"])).alias("d"),
                    ct["cell"].alias("cell"))))["cell"]))
        .withColumn("nsd_hat", F.aggregate(
            F.zip_with(F.col("cb"), F.col("codes"),
                       lambda b, code: b["cents"][code]["csd"]),
            F.lit(0.0), lambda acc, x: acc + x))
        .select("n_id", "nv", "codes", "nsd_hat"))


def _semdedup_reference(df, centroids, threshold, n_probes=1):
    """The semdedup rule from its parts: row b is dropped iff some
    a < b shares a probe cell with b and cos(a, b) ≥ threshold — cells
    from ``assign_cells``, pairs and cosines from the exact expression
    path ``cosine_pairs``."""
    from market_data_ingestor_go_spark.operators.similarity import (
        assign_cells, cosine_pairs)

    cell, probes = {}, {}
    for r in assign_cells(df, centroids, n_probes=n_probes).collect():
        cell[r["n_id"]] = r["cell"]
        probes[r["n_id"]] = set(r["cells"]) if n_probes > 1 else {r["cell"]}
    dropped = {r["b_id"] for r in
               cosine_pairs(df, threshold=threshold).collect()
               if probes[r["a_id"]] & probes[r["b_id"]]}
    return {(i, c, i not in dropped) for i, c in cell.items()}


def test_operators_have_one_engine():
    """Layout guard (no Spark session): every operator keeps exactly
    one product path — no function anywhere in the package takes an
    ``engine`` or ``pair_engine`` selector. Reference forms live in
    the tests."""
    import ast
    import pathlib

    import market_data_ingestor_go_spark as pkg

    knobs = []
    for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        tree = ast.parse(path.read_text())
        knobs += [(path.name, fn.name, a.arg) for fn in ast.walk(tree)
                  if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
                  for a in (fn.args.posonlyargs + fn.args.args
                            + fn.args.kwonlyargs)
                  if a.arg in ("engine", "pair_engine")]
    assert knobs == []


def test_trainers_refuse_unbounded_sample_before_any_job(spark):
    """``max_train_rows=None`` would collect the whole corpus onto the
    driver: both trainers raise ValueError before starting a Spark job.
    Checked with the status tracker under a job group; a bounded call
    in a second group is the control that the tracker sees their jobs
    (listener events arrive in order, so once the control's jobs show,
    any job of the refused call would show too)."""
    import time

    from market_data_ingestor_go_spark.operators.similarity import (
        train_kmeans_codebook, train_pq_codebooks)

    df = load_table(spark, SF, "embeddings")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def in_group(group, call):
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    for name, train in (
            ("kmeans", lambda n: train_kmeans_codebook(
                df, k=4, n_iters=1, max_train_rows=n)),
            ("pq", lambda n: train_pq_codebooks(
                df, m=4, k=4, n_iters=1, max_train_rows=n))):
        refused = f"unbounded-{name}-{time.monotonic_ns()}"
        control = f"bounded-{name}-{time.monotonic_ns()}"

        def call_unbounded():
            with pytest.raises(ValueError, match="max_train_rows"):
                train(None)

        in_group(refused, call_unbounded)
        in_group(control, lambda: train(32))
        deadline = time.time() + 10
        while (time.time() < deadline
               and not tracker.getJobIdsForGroup(control)):
            time.sleep(0.1)
        assert list(tracker.getJobIdsForGroup(control)), name
        assert list(tracker.getJobIdsForGroup(refused)) == [], name


def test_kmeans_driver_equals_distributed(spark):
    """The r8 driver-side Lloyd loop must reproduce the distributed
    Lloyd loop's codebook BIT-EXACTLY (same hash-sample init, left-fold
    dots, tie-to-larger-cent argmax, DECIMAL(27,12) HALF_UP means) —
    every downstream consumer (semdedup cells, IVF assignment, ANN
    recall floors) then provably cannot move."""
    from market_data_ingestor_go_spark.operators.similarity import (
        train_kmeans_codebook)

    df = load_table(spark, SF, "embeddings")
    for k in (4, 16):
        a = sorted(((r["vec_id"], list(r["embedding"])) for r in
                    train_kmeans_codebook(df, k=k).collect()))
        assert a == _kmeans_distributed(df, k=k), f"k={k}: codebooks diverge"


def test_pq_driver_equals_distributed(spark):
    """Same bit-identity pin for the per-subspace PQ trainer
    (argmin ties to the SMALLER cell, distance scv − 2.0·⟨sv,cv⟩)."""
    from market_data_ingestor_go_spark.operators.similarity import (
        train_pq_codebooks)

    df = load_table(spark, SF, "embeddings")
    key = lambda r: (r["subspace"], r["cell"])  # noqa: E731
    a = [(key(r), list(r["cv"])) for r in sorted(
        train_pq_codebooks(df, m=8, k=16, n_iters=3).collect(), key=key)]
    assert a == _pq_distributed(df, m=8, k=16, n_iters=3)


def test_cosine_pairs_blocked_bit_identical(spark):
    """The r8 blocked exact pair join must emit the SAME pair set
    with BIT-IDENTICAL cosines as the interpreted-HOF cosine_pairs
    (its numpy kernel preserves the left fold across dimensions and
    the sqrt(sa·sb) association), and be partition-stable. This is
    what licenses semantic_dedup_clusters / embedding_cosine_neardup
    to serve their unchanged DuckDB oracles from the blocked path."""
    from market_data_ingestor_go_spark.operators.similarity import (
        cosine_pairs, cosine_pairs_blocked)
    from market_data_ingestor_go_spark.sources.tables import load_table

    df = load_table(spark, SF, "embeddings")
    # sorted LISTS, not sets: a set compare silently deduplicates and
    # cannot see the empty-partner-block duplicate-emission bug
    old = sorted((r["a_id"], r["b_id"], r["cos"])
                 for r in cosine_pairs(df, threshold=0.4).collect())
    new = sorted((r["a_id"], r["b_id"], r["cos"])
                 for r in cosine_pairs_blocked(df, threshold=0.4).collect())
    assert old == new
    assert len(new) > 0
    again = sorted((r["a_id"], r["b_id"], r["cos"])
                   for r in cosine_pairs_blocked(
                       df.repartition(7), threshold=0.4,
                       n_blocks=5).collect())
    assert new == again


def test_cosine_pairs_blocked_empty_blocks_and_id_types(spark):
    """Regression for the r8 duplicate-emission bug: with fewer rows
    than blocks, some cross-block groups have an EMPTY partner block —
    the kernel must identify within- vs cross-block from the group key
    (pid), never from which sides are populated, or block i's internal
    pairs re-emit once per empty partner. Duplicate-sensitive list
    compare; also pins that the output id type follows the input id
    type (string ids) instead of the old hardcoded LONG."""
    from pyspark.sql import functions as F

    from market_data_ingestor_go_spark.operators.similarity import (
        cosine_pairs, cosine_pairs_blocked)
    from market_data_ingestor_go_spark.sources.tables import load_table

    df = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 40)
    ref = sorted((r["a_id"], r["b_id"], r["cos"])
                 for r in cosine_pairs(df, threshold=-1.0).collect())
    got = sorted((r["a_id"], r["b_id"], r["cos"])
                 for r in cosine_pairs_blocked(
                     df, threshold=-1.0, n_blocks=32).collect())
    assert got == ref          # 40 rows / 32 blocks ⇒ empty blocks exist
    assert len(ref) == 780   # C(40,2): every pair emits exactly once

    sdf = df.withColumn("vec_id", F.concat(F.lit("doc-"),
                                           F.col("vec_id").cast("string")))
    sgot = cosine_pairs_blocked(sdf, threshold=-1.0, n_blocks=32)
    assert dict(sgot.dtypes)["a_id"] == "string"
    assert sorted((r["a_id"], r["b_id"], r["cos"])
                  for r in sgot.collect()) == sorted(
        (f"doc-{a}", f"doc-{b}", c) if f"doc-{a}" < f"doc-{b}"
        else (f"doc-{b}", f"doc-{a}", c) for a, b, c in ref)


def test_semdedup_kernel_equals_join(spark):
    """The r8 per-cell numpy scoring kernel must reproduce the semdedup
    rule EXACTLY (same precomputed self-dots, fold-order-preserving
    cosines) — the reference applies the rule to ``assign_cells``
    cells and ``cosine_pairs`` pairs — single-probe and multiprobe."""
    from market_data_ingestor_go_spark.operators.similarity import (
        semdedup, train_kmeans_codebook)

    df = load_table(spark, SF, "embeddings")
    cents = train_kmeans_codebook(df, k=8)
    for probes in (1, 2):
        a = {(r["vec_id"], r["cell"], r["kept"]) for r in semdedup(
            df, n_clusters=8, centroids=cents, n_probes=probes).collect()}
        b = _semdedup_reference(df, cents, 0.4, n_probes=probes)
        assert a == b, f"n_probes={probes}"
        assert len(a) == df.count()


def test_assign_cells_kernel_equals_expr(spark):
    """The r8 mapInPandas assignment kernel must reproduce the
    Column-expression path's cell AND probe-list choices exactly
    (stable reversed argsort over the cent_id-ascending codebook ≡
    reverse(array_sort(struct(ccos, cent_id)))) across k and
    n_probes."""
    from market_data_ingestor_go_spark.operators.similarity import (
        assign_cells, train_kmeans_codebook)

    df = load_table(spark, SF, "embeddings")
    for k, p in ((8, 1), (8, 3), (64, 2)):
        cents = train_kmeans_codebook(df, k=k)

        def snap(out):
            return sorted(
                (r["n_id"], r["cell"],
                 tuple(r["cells"]) if p > 1 else None)
                for r in out.collect())

        assert snap(assign_cells(df, cents, n_probes=p)) == \
            snap(_assign_cells_expr(df, cents, n_probes=p)), f"k={k} p={p}"


def test_pq_encode_kernel_equals_expr(spark):
    """The r8 mapInPandas PQ-encode kernel must reproduce the
    Column-expression path EXACTLY — codes (argmin ties to the
    smaller cell) AND the nsd_hat double (same left-fold order) —
    across (m, k) shapes."""
    from market_data_ingestor_go_spark.operators.similarity import (
        pq_encode, train_pq_codebooks)

    df = load_table(spark, SF, "embeddings")
    for m, k in ((16, 16), (8, 4)):
        books = train_pq_codebooks(df, m=m, k=k, n_iters=2)

        def snap(out):
            return sorted(
                (r["n_id"], tuple(r["codes"]), repr(r["nsd_hat"]))
                for r in out.collect())

        assert snap(pq_encode(df, books)) == \
            snap(_pq_encode_expr(df, books)), f"m={m} k={k}"


def test_kernel_equality_under_exact_ties(spark):
    """Adversarial tie corpus for the r8 kernels: duplicate vectors,
    sign-flipped twins, and centroids EQUAL to corpus vectors force
    exact score ties — the one regime where an argmin/argmax order
    mismatch between the numpy kernels and the Column-expression
    references would show. Fixture embeddings have no exact ties, so
    this is the only coverage of the tie branches."""
    from market_data_ingestor_go_spark.operators.similarity import (
        assign_cells, pq_encode, semdedup)

    rows = []
    base = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.5, 0.5, 0.5, 0.5],
        [-1.0, 0.0, 0.0, 0.0],
    ]
    # 12 vectors: each base vector three times (ids interleaved so
    # duplicate ids are not adjacent)
    for rep in range(3):
        for i, v in enumerate(base):
            rows.append((rep * 10 + i, v))
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    # centroids equal to two corpus vectors + one duplicate centroid
    cents = spark.createDataFrame(
        [(0, base[0]), (1, base[1]), (2, base[0])],
        "vec_id INT, embedding ARRAY<DOUBLE>")

    a = sorted((r["n_id"], r["cell"], tuple(r["cells"])) for r in
               assign_cells(df, cents, n_probes=2).collect())
    b = sorted((r["n_id"], r["cell"], tuple(r["cells"])) for r in
               _assign_cells_expr(df, cents, n_probes=2).collect())
    assert a == b

    # PQ: m=2 subspaces of dim 2; duplicate centroids per subspace
    books = spark.createDataFrame(
        [(s, c, v) for s in (0, 1)
         for c, v in enumerate([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]])],
        "subspace INT, cell INT, cv ARRAY<DOUBLE>")
    pa = sorted((r["n_id"], tuple(r["codes"]), repr(r["nsd_hat"])) for r in
                pq_encode(df, books).collect())
    pb = sorted((r["n_id"], tuple(r["codes"]), repr(r["nsd_hat"])) for r in
                _pq_encode_expr(df, books).collect())
    assert pa == pb

    # semdedup: duplicate vectors give cosine exactly 1.0 within
    # cells — the kept set must match the rule's reference including
    # the min-id drop across exact-tie scores
    sa = sorted((r["vec_id"], r["cell"], r["kept"]) for r in
                semdedup(df, centroids=cents, threshold=0.999).collect())
    assert sa == sorted(_semdedup_reference(df, cents, 0.999))
    assert not all(kept for _, _, kept in sa)


def test_apply_crawl_delta_hand_case(spark):
    """Upsert semantics on a hand pair: delta precedence per id, an
    edit lands 'updated' with the delta's text, a content-identical
    re-land (whitespace-only difference) lands 'refreshed' with the
    delta's EXACT text, an untouched base row is 'carried' verbatim,
    a delta NULL text tombstones the doc out of the merge, and a new
    id lands 'added' — and the merge has exactly one row per
    surviving id."""
    from market_data_ingestor_go_spark.operators.dedup import (
        apply_crawl_delta)

    base = spark.createDataFrame(
        [Row(doc_id=1, source="s1", text="a b"),
         Row(doc_id=2, source="s1", text="keep me"),
         Row(doc_id=3, source="s2", text="x  y"),
         Row(doc_id=4, source="s2", text="gone")])
    delta = spark.createDataFrame(
        [Row(doc_id=1, source="s1", text="a b c"),
         Row(doc_id=3, source="s2", text=" x y "),
         Row(doc_id=4, source="s2", text=None),
         Row(doc_id=5, source="s3", text="new doc")])
    got = {r["doc_id"]: r for r in
           apply_crawl_delta(base, delta).collect()}
    assert set(got) == {1, 2, 3, 5}
    assert (got[1]["op"], got[1]["text"]) == ("updated", "a b c")
    assert (got[2]["op"], got[2]["text"]) == ("carried", "keep me")
    assert (got[3]["op"], got[3]["text"]) == ("refreshed", " x y ")
    assert (got[5]["op"], got[5]["source"], got[5]["text"]) \
        == ("added", "s3", "new doc")


def test_winnowing_matches_python_twin_and_guarantee(spark):
    """Winnowing (Schleimer et al. 2003) selection is BIT-identical
    to an exact Python twin — (pos, fp) pairs, rightmost-tie argmin,
    short-doc single selection — over a tiny-vocabulary random corpus
    crafted to force hash ties, and the paper's GUARANTEE holds:
    every window of w consecutive hashes contains ≥1 selected
    position (so any shared run ≥ k+w−1 tokens is detected)."""
    import hashlib
    import random

    from market_data_ingestor_go_spark.functions.text import (
        ROLL_BASE, ROLL_MOD)
    from market_data_ingestor_go_spark.operators.dedup import (
        winnowing_fingerprints)

    k, w = 8, 4

    def tokh(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16)

    def whs(toks):
        hs = [tokh(t) for t in toks]
        if len(hs) < k:
            return []
        return [sum((h * pow(ROLL_BASE, k - 1 - j, ROLL_MOD)) % ROLL_MOD
                    for j, h in enumerate(hs[i:i + k])) % ROLL_MOD
                for i in range(len(hs) - k + 1)]

    def winnow(wh):
        m, sel = len(wh), set()
        if m >= w:
            for i in range(m - w + 1):
                win = wh[i:i + w]
                mn = min(win)
                sel.add((i + max(j for j, v in enumerate(win)
                                 if v == mn), mn))
        elif m >= 1:
            mn = min(wh)
            sel.add((max(j for j, v in enumerate(wh) if v == mn), mn))
        return sel

    random.seed(7)
    vocab = [f"t{i}" for i in range(12)]  # tiny vocab → real hash ties
    texts = [(d, " ".join(random.choice(vocab)
                          for _ in range(random.randint(1, 40))))
             for d in range(30)]
    df = spark.createDataFrame(texts, "doc_id BIGINT, text STRING")
    got: dict[int, set] = {}
    for r in winnowing_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for d, t in texts:
        wh = whs(t.strip().split())
        assert got.get(d, set()) == winnow(wh), d
        if len(wh) >= w:  # the coverage guarantee
            sel = {p for p, _ in got[d]}
            for i in range(len(wh) - w + 1):
                assert any(i <= p < i + w for p in sel), (d, i)


def test_winnow_pos_decode_exact_past_2_53(spark):
    """ADVICE r11 regression: the (pos, fp) decode from the encoded
    pos*ROLL_MOD + fp value must use integer `div`, not float `/` —
    double round-trip is inexact for encodings ≥ 2^53 (docs with
    ~4.2M+ windows) and the truncating bigint cast can land pos off
    by one. Crafted encodings straddling 2^53..2^62: the fixed
    expression decodes every one exactly; the old float path is shown
    to disagree on at least one of them."""
    from pyspark.sql import functions as F

    from market_data_ingestor_go_spark.functions.text import ROLL_MOD

    cases = []
    for shift in (53, 55, 58, 62):
        base_pos = (1 << shift) // ROLL_MOD
        for dp in (0, 1, 7):
            for fp in (0, 1, ROLL_MOD - 1):
                cases.append((base_pos + dp, fp))
    rows = [(pos * ROLL_MOD + fp, pos, fp) for pos, fp in cases
            if pos * ROLL_MOD + fp < (1 << 63)]
    df = spark.createDataFrame(rows, "v LONG, pos LONG, fp LONG")
    dec = df.select(
        "pos", "fp",
        F.expr(f"v div {ROLL_MOD}").cast("bigint").alias("got_pos"),
        (F.col("v") % F.lit(ROLL_MOD)).cast("bigint").alias("got_fp"),
        ((F.col("v") - F.col("v") % F.lit(ROLL_MOD)) / F.lit(ROLL_MOD))
        .cast("bigint").alias("old_pos"))
    out = dec.collect()
    for r in out:
        assert r["got_pos"] == r["pos"] and r["got_fp"] == r["fp"], r
    assert any(r["old_pos"] != r["pos"] for r in out), (
        "fixture must include an encoding where the float path breaks")


def test_winnowing_detects_guaranteed_shared_run(spark):
    """The detection guarantee end-to-end: two docs sharing a
    verbatim run of exactly k+w−1 = 11 tokens (surrounded by
    disjoint text) MUST share ≥1 winnowed fingerprint; the winnowed
    index is a proper subset of the rolling-hash window table."""
    from market_data_ingestor_go_spark.functions.text import (
        rolling_window_hashes, token_hash_array)
    from market_data_ingestor_go_spark.operators.dedup import (
        winnowing_fingerprints, winnowing_neardup_pairs)

    run = " ".join(f"s{i}" for i in range(11))           # 11 tokens
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a1 a2 a3 " + run + " a4 a5"),
         Row(doc_id=2, text="b1 b2 " + run + " b3 b4 b5 b6"),
         Row(doc_id=3, text="c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")])
    pairs = winnowing_neardup_pairs(docs, k=8, w=4, min_shared=1) \
        .collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}

    n_sel = winnowing_fingerprints(docs, k=8, w=4).count()
    n_all = (docs.select(token_hash_array("text").alias("hs"))
             .select(F.explode(rolling_window_hashes("hs", 8)))
             .count())
    assert 0 < n_sel < n_all  # a proper, guaranteed-coverage subset


def test_scrub_duplicate_spans_hand_case(spark):
    """Within-corpus keep-first self-dedup on a hand corpus: the
    FIRST (smallest doc_id, pos) occurrence of a duplicated 8-token
    run survives untouched (clean, original text verbatim); later
    occurrences are cut (scrubbed) or, for a fully-duplicated doc,
    dropped; a doc repeating the run twice loses both copies (its
    first occurrence lives in an earlier doc); a WITHIN-doc repeat
    keeps its first position and cuts the second; and removed + kept
    equals the token count everywhere."""
    from market_data_ingestor_go_spark.operators.dedup import (
        scrub_duplicate_spans)

    run = " ".join(f"r{i}" for i in range(8))            # 8 tokens
    urun = " ".join(f"u{i}" for i in range(8))
    junk = " ".join(f"j{i}" for i in range(9))
    fill = " ".join(f"f{i}" for i in range(9))
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="x " + run + " y"),          # keeper
         Row(doc_id=2, text="a b " + run),               # later copy
         Row(doc_id=3, text=run),                        # fully dup
         Row(doc_id=4, text=run + " " + junk + " " + run),
         Row(doc_id=5, text=urun + " " + fill + " " + urun),
         Row(doc_id=6, text="all unique tokens only here")])
    got = {r["doc_id"]: r for r in
           scrub_duplicate_spans(docs, w=8).collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}
    assert (got[1]["status"], got[1]["text"]) \
        == ("clean", "x " + run + " y")
    assert (got[2]["status"], got[2]["text"]) == ("scrubbed", "a b")
    assert (got[3]["status"], got[3]["text"]) == ("dropped", None)
    assert (got[4]["status"], got[4]["text"]) == ("scrubbed", junk)
    assert got[4]["n_spans"] == 2
    assert (got[5]["status"], got[5]["text"]) \
        == ("scrubbed", urun + " " + fill)
    assert (got[6]["status"], got[6]["text"]) \
        == ("clean", "all unique tokens only here")
    # accounting identity
    for did, r in got.items():
        n = len({1: 10, 2: 10, 3: 8, 4: 25, 5: 25, 6: 5}[did] * "x")
        assert r["tokens_removed"] + r["n_tokens_kept"] == n, did


def test_cohort_retention_hand_case(spark):
    """Two-cohort hand case: offset-0 retention is 1.0 by
    construction, a returning user halves, multiple same-day events
    count a user once (the (user, day) distinct)."""
    from market_data_ingestor_go_spark.operators.timeseries import (
        cohort_retention)
    D = 86400000
    rows = [  # (user, ts_ms): u1/u2 start day0, only u1 returns day1;
              # u3 starts day1; u1 has TWO events on day0
        (1, 10), (1, 20), (2, 30), (1, D + 10), (3, D + 20),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_ms long")
    got = {(r["cohort_day_ms"], r["day_offset"]): r
           for r in cohort_retention(df).collect()}
    assert set(got) == {(0, 0), (0, 1), (D, 0)}
    assert (got[(0, 0)]["cohort_users"], got[(0, 0)]["active_users"],
            got[(0, 0)]["retention"]) == (2, 2, 1.0)
    assert (got[(0, 1)]["active_users"], got[(0, 1)]["retention"]) \
        == (1, 0.5)
    assert (got[(D, 0)]["cohort_users"], got[(D, 0)]["retention"]) \
        == (1, 1.0)


def test_event_transitions_hand_case(spark):
    """Markov hand case: row-normalized counts, first event per user
    contributes no pair, same-ts events ordered by the unique id."""
    from market_data_ingestor_go_spark.operators.timeseries import (
        event_transitions)
    rows = [  # (user, ts, id, type): u1 v->c->v; u2 c->c with a
              # same-ts pair ordered by event_id (c then v => c->v)
        (1, 10, 1, "v"), (1, 20, 2, "c"), (1, 30, 3, "v"),
        (2, 10, 4, "c"), (2, 20, 5, "c"), (2, 20, 6, "v"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_ms long, event_id long, event_type string")
    got = {(r["prev_type"], r["event_type"]):
           (r["n_transitions"], r["p"])
           for r in event_transitions(df).collect()}
    assert got == {("v", "c"): (1, 1.0),
                   ("c", "v"): (2, 2 / 3),
                   ("c", "c"): (1, 1 / 3)}


def test_cusum_changepoint_hand_cases(spark):
    """A clean level shift peaks |S| at the last pre-shift index; an
    exact |S| tie breaks to the smallest i (decided in exact decimal
    arithmetic, not float compare); constant series -> idx 1, mag 0."""
    from market_data_ingestor_go_spark.operators.timeseries import (
        cusum_changepoint)
    rows = ([("a", t + 1, t + 1, 0.0) for t in range(3)]
            + [("a", t + 4, t + 4, 10.0) for t in range(3)]
            + [("tie", 1, 1, 0.0), ("tie", 2, 2, 10.0),
               ("tie", 3, 3, 0.0)]
            + [("flat", t + 1, t + 1, 7.5) for t in range(4)])
    df = spark.createDataFrame(
        rows, "event_type string, ts_ms long, event_id long, value double")
    got = {r["event_type"]: r for r in cusum_changepoint(df).collect()}
    # a: mean 5, S = -5,-10,-15,-10,-5,0 -> max|S|=15 at i=3
    assert (got["a"]["change_idx"], got["a"]["cusum_mag"]) == (3, 15.0)
    # tie: |S_1| = |S_2| = 10/3 exactly -> smallest i
    assert got["tie"]["change_idx"] == 1
    assert got["tie"]["cusum_mag"] == 10.0 / 3.0
    assert (got["flat"]["change_idx"], got["flat"]["cusum_mag"]) \
        == (1, 0.0)


def test_embedding_covariance_matches_numpy(spark):
    """The quantized-exact covariance tracks numpy's float64 np.cov
    to ~1e-7 (DECIMAL(27,6) per-term quantization over n=100 rows),
    diagonals are non-negative variances, and the triangle is
    complete: d(d+1)/2 cells, every pair i <= j exactly once."""
    import numpy as np

    from market_data_ingestor_go_spark.operators.similarity import (
        embedding_covariance)
    from market_data_ingestor_go_spark.sources.tables import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = embedding_covariance(emb).collect()
    d = 64
    assert len(rows) == d * (d + 1) // 2
    assert {(r["dim_i"], r["dim_j"]) for r in rows} \
        == {(i, j) for i in range(d) for j in range(i, d)}
    vecs = np.array([r["embedding"] for r in
                     emb.orderBy("vec_id").collect()], dtype=np.float64)
    C = np.cov(vecs, rowvar=False)
    for r in rows:
        assert abs(r["cov"] - C[r["dim_i"], r["dim_j"]]) < 1e-6, r
        if r["dim_i"] == r["dim_j"]:
            assert r["cov"] >= 0.0, r


def test_embedding_pca_spectrum_invariants(spark):
    """Eigen-spectrum invariants over the bit-exact covariance:
    eigenvalues descending and non-negative (up to the DECIMAL(27,6)
    quantization floor), their sum equals the covariance trace,
    explained fractions telescope to 1."""
    from market_data_ingestor_go_spark.operators.similarity import (
        embedding_covariance, embedding_pca_variance)
    from market_data_ingestor_go_spark.sources.tables import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = embedding_pca_variance(emb).orderBy("component").collect()
    assert len(rows) == 64
    lam = [r["eigenvalue"] for r in rows]
    assert all(a >= b - 1e-12 for a, b in zip(lam, lam[1:]))
    assert all(v >= -1e-9 for v in lam)
    trace = sum(r["cov"] for r in embedding_covariance(emb).collect()
                if r["dim_i"] == r["dim_j"])
    assert abs(sum(lam) - trace) < 1e-9 * max(1.0, abs(trace))
    assert abs(rows[-1]["cum_frac"] - 1.0) < 1e-12
    assert abs(sum(r["explained_frac"] for r in rows) - 1.0) < 1e-12


def test_embedding_covariance_arrow_agrees_with_exact(spark):
    """The Arrow/BLAS twin reproduces the exact quantized-decimal
    covariance within the quantization headroom (per-term DECIMAL
    quantization bounds |Sxy_exact − Sxy_true| by n·5e-7; the float64
    matmul is ~1e-16-true), cell set and n identical. Measured
    sf0.1: exact 14.6 s → arrow 3.8 s (the interpreted-HOF constant
    is the entire gap)."""
    from market_data_ingestor_go_spark.operators.similarity import (
        embedding_covariance, embedding_covariance_arrow)
    from market_data_ingestor_go_spark.sources.tables import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {(r["dim_i"], r["dim_j"]): r
             for r in embedding_covariance(emb).collect()}
    fast = {(r["dim_i"], r["dim_j"]): r
            for r in embedding_covariance_arrow(emb).collect()}
    assert set(exact) == set(fast) and len(exact) == 64 * 65 // 2
    n = next(iter(exact.values()))["n"]
    bound = 3 * n * 5e-7 / (n - 1)
    for k, r in exact.items():
        assert fast[k]["n"] == r["n"]
        assert abs(fast[k]["cov"] - r["cov"]) <= bound, (k, bound)


def test_embedding_covariance_arrow_drops_null_rows_like_exact(spark):
    """ADVICE r11 regression: NULL embedding rows used to crash the
    Arrow kernel (np.stack over None) while the exact twin silently
    dropped them via explode — the twins diverged on the same input.
    Both paths must share one row universe: NULLs dropped, identical
    n, covariances within the quantization bound."""
    from market_data_ingestor_go_spark.operators.similarity import (
        embedding_covariance, embedding_covariance_arrow)
    rows = [(0, [1.0, 2.0, 3.0]), (1, None), (2, [2.0, 1.0, 0.5]),
            (3, [0.25, 4.0, 1.5]), (4, None), (5, [3.0, 0.125, 2.0])]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    exact = {(r["dim_i"], r["dim_j"]): r
             for r in embedding_covariance(emb).collect()}
    fast = {(r["dim_i"], r["dim_j"]): r
            for r in embedding_covariance_arrow(emb).collect()}
    assert set(exact) == set(fast) and len(exact) == 3 * 4 // 2
    for k, r in exact.items():
        assert fast[k]["n"] == r["n"] == 4, k
        assert abs(fast[k]["cov"] - r["cov"]) <= 1e-5, k


def _cov_canon(rows):
    return sorted((r["dim_i"], r["dim_j"], r["n"], repr(r["cov"]))
                  for r in rows)


def _cov_expr(emb, vec_col="embedding"):
    """The all-JVM covariance: the quantized-decimal sufficient
    statistics as column expressions, finished by the shared readout —
    the composition the streaming covariance runs."""
    from market_data_ingestor_go_spark.operators.similarity import (
        cov_dim_sums, cov_pair_sums, covariance_from_sums)
    return covariance_from_sums(cov_pair_sums(emb, vec_col),
                                cov_dim_sums(emb, vec_col))


def test_cov_kernel_equals_expr(spark):
    """r16: the vectorized exact-quantization kernel behind
    embedding_covariance is BIT-identical to the all-JVM expression
    composition on the fixture corpus — same cells, same n, covariance
    doubles equal to the last bit (repr-compared). This is the lsh
    verify-kernel convention: the fast path must not be approximately
    right."""
    from market_data_ingestor_go_spark.operators.similarity import (
        embedding_covariance)
    from market_data_ingestor_go_spark.sources.tables import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    kern = _cov_canon(embedding_covariance(emb).collect())
    expr = _cov_canon(_cov_expr(emb).collect())
    assert len(kern) == 64 * 65 // 2
    assert kern == expr


def test_cov_kernel_ties_and_edges(spark):
    """Adversarial bit-identity: dyadic values whose products land
    EXACTLY on .5 micro boundaries (fixture data has no exact ties, so
    without this corpus the kernel's HALF_UP branch is untested — the
    r8 exact-ties lesson), plus NULL rows (explode-skip), NULL
    elements (null product, counted row), ragged lengths
    (slice-bounded cells), and an empty array."""
    from market_data_ingestor_go_spark.operators.similarity import (
        embedding_covariance)
    rows = [
        (0, [0.0078125, -0.0078125, 1.0]),          # 2^-7: ±7812.5 ties
        (1, [2.0 ** -21, 3 * 2.0 ** -21, 0.5]),     # sub-micro ties
        (2, None),                                  # NULL array
        (3, [1.5, None, -2.25]),                    # NULL element
        (4, [0.125, 0.0625]),                       # ragged (len 2)
        (5, []),                                    # empty array
        (6, [123.4567895, -0.0000005, 0.0000015]),  # repr-tie cases
        (7, [1.0, 2.0, 3.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, v ARRAY<DOUBLE>")
    kern = _cov_canon(embedding_covariance(emb, "v").collect())
    expr = _cov_canon(_cov_expr(emb, "v").collect())
    assert kern == expr
    # the crafted corpus must actually cover the interesting cells
    assert {(i, j) for i, j, _, _ in kern} == \
        {(i, j) for i in range(3) for j in range(i, 3)}


def test_one_pass_covariance_family(spark):
    """r12 one-pass family: correlation and PCA accept a PRECOMPUTED
    covariance table and produce BIT-identical output to their
    compute-it-themselves default (pure functions of the matrix);
    the fixture trio shares one corpus pass via the _cov_once memo
    (same checkpointed object across all three queries)."""
    from market_data_ingestor_go_spark.operators.similarity import (
        embedding_correlation, embedding_covariance,
        embedding_pca_variance)
    from market_data_ingestor_go_spark.plans.queries import (
        _COV_MEMO, embedding_correlation_matrix,
        embedding_covariance_matrix, embedding_pca_spectrum)
    from market_data_ingestor_go_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    cov = embedding_covariance(emb).localCheckpoint(eager=True)

    assert sorted(map(tuple, embedding_correlation(emb, cov=cov)
                      .collect())) == \
        sorted(map(tuple, embedding_correlation(emb).collect()))
    assert sorted(map(tuple, embedding_pca_variance(emb, cov=cov)
                      .collect())) == \
        sorted(map(tuple, embedding_pca_variance(emb).collect()))

    _COV_MEMO.clear()
    c1 = embedding_covariance_matrix(spark, sf)
    assert len(_COV_MEMO) == 1
    embedding_correlation_matrix(spark, sf)
    embedding_pca_spectrum(spark, sf)
    assert len(_COV_MEMO) == 1, "readouts must reuse the one pass"
    assert embedding_covariance_matrix(spark, sf) is c1
    _COV_MEMO.clear()


def test_embedding_correlation_matches_numpy(spark):
    """Correlation readout tracks numpy corrcoef to 1e-4 (the
    covariance's DECIMAL(27,6) quantization amplified by the 1/sqrt
    normalization over O(1) variances — measured ~2e-6 worst cell),
    diagonals are 1 within 1 ULP of sqrt(v)*sqrt(v), and every cell
    obeys |corr| <= 1 + 1e-12."""
    import numpy as np

    from market_data_ingestor_go_spark.operators.similarity import (
        embedding_correlation)
    from market_data_ingestor_go_spark.sources.tables import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = embedding_correlation(emb).collect()
    assert len(rows) == 64 * 65 // 2
    vecs = np.array([r["embedding"] for r in
                     emb.orderBy("vec_id").collect()], dtype=np.float64)
    R = np.corrcoef(vecs, rowvar=False)
    for r in rows:
        assert abs(r["corr"]) <= 1.0 + 1e-12, r
        assert abs(r["corr"] - R[r["dim_i"], r["dim_j"]]) < 1e-4, r
        if r["dim_i"] == r["dim_j"]:
            assert abs(r["corr"] - 1.0) < 1e-15, r


def test_dhash_invariances_unit():
    """dHash (functions/dhash_minimal) is bit-invariant to the edits
    the fixture exercises — integer-ratio NN upscale and a global
    non-clipping brightness shift — and a genuinely different image
    lands far away in Hamming space."""
    import hashlib

    from market_data_ingestor_go_spark.functions.dhash_minimal import (
        dhash64)
    from market_data_ingestor_go_spark.functions.png_minimal import (
        resize_nearest)

    def pixels(seed: bytes) -> bytes:
        hx = (hashlib.sha256(seed).hexdigest()
              + hashlib.sha256(seed + b":1").hexdigest())
        return bytes(64 + int(ch, 16) * 8 for ch in hx[:72])

    px = pixels(b"doc one")
    base = dhash64(9, 8, px)
    # 2x and 3x nearest-neighbor upscales: the box average recovers
    # the 9x8 grid exactly
    assert dhash64(18, 16, resize_nearest(9, 8, 1, px, 18, 16)) == base
    assert dhash64(27, 24, resize_nearest(9, 8, 1, px, 27, 24)) == base
    # +16 brightness without clipping: every comparison shifts equally
    assert dhash64(9, 8, bytes(p + 16 for p in px)) == base
    # a different image is far away (not within the join's Hamming 2)
    other = dhash64(9, 8, pixels(b"doc two"))
    assert bin((base ^ other) & ((1 << 64) - 1)).count("1") > 2


def test_image_dhash_neardup_catches_what_byte_dedup_misses(spark):
    """The hand case the r11 verdict asked for: re-encoded/resized/
    brightness-shifted copies of one image are DISTINCT to byte-level
    dedup (every content sha256 unique) but the dHash pigeonhole join
    pairs them all at Hamming 0; a corrupt blob rides along as a NULL
    hash and never enters the join."""
    from market_data_ingestor_go_spark.operators.multimodal import (
        image_dhash, image_neardup_pairs, synthetic_doc_images)

    docs = spark.createDataFrame(
        [(15, "the quick brown fox jumps over the lazy dog"),
         (1, "an entirely different document body")],
        ["doc_id", "text"])
    imgs = synthetic_doc_images(docs)  # 15 -> orig+up2+b16, 1 -> orig
    blobs = imgs.collect()
    assert {r["img_id"] for r in blobs} == {
        "15:orig", "15:up2", "15:b16", "1:orig"}
    # byte-level dedup sees four unrelated blobs
    import hashlib
    assert len({hashlib.sha256(bytes(r["content"])).hexdigest()
                for r in blobs}) == 4

    corrupt = spark.createDataFrame([("bad", b"\x89PNG\r\n\x1a\ntrunc")],
                                    ["img_id", "content"])
    sigs = {r["img_id"]: r["dhash"]
            for r in image_dhash(imgs.union(corrupt)).collect()}
    assert sigs["bad"] is None
    assert sigs["15:orig"] == sigs["15:up2"] == sigs["15:b16"]
    assert sigs["1:orig"] != sigs["15:orig"]

    pairs = {(r["id_a"], r["id_b"], r["hamming"]) for r in
             image_neardup_pairs(imgs.union(corrupt)).collect()}
    assert pairs == {("15:b16", "15:orig", 0), ("15:b16", "15:up2", 0),
                     ("15:orig", "15:up2", 0)}


def test_image_dhash_cross_codec_png_jpeg_pairs(spark):
    """r12 verdict #6: the cross-codec invariance claim end-to-end —
    a baseline-JPEG re-encode of the SAME pixels a PNG carries pairs
    at Hamming 0 through image_neardup_pairs (PNG decode and JPEG
    Huffman+IDCT decode both earned by the from-scratch codecs).
    Content is photo-like SMOOTH (a 36x32 ramp: adjacent downsampled
    cells differ by 16 gray levels, Annex-K quantization error on
    smooth content is <=3 levels measured) — on nibble-noise content
    JPEG legitimately drifts ~8 bits (asserted too: the honest-lossy
    posture, not a fixture accident), which is why the oracle-shared
    PNG fixture doesn't re-encode noise through JPEG."""
    from market_data_ingestor_go_spark.functions.dhash_minimal import (
        dhash64)
    from market_data_ingestor_go_spark.functions.jpeg_minimal import (
        jpeg_decode_luma, jpeg_encode_gray)
    from market_data_ingestor_go_spark.functions.png_minimal import (
        png_encode)
    from market_data_ingestor_go_spark.operators.multimodal import (
        image_neardup_pairs)

    w, h = 36, 32
    smooth = bytes(min(255, 40 + 4 * x + 2 * y)
                   for y in range(h) for x in range(w))
    import hashlib
    hx = (hashlib.sha256(b"noise doc").hexdigest()
          + hashlib.sha256(b"noise doc:1").hexdigest())
    noise = bytes(64 + int(c, 16) * 8 for c in hx[:72])

    imgs = spark.createDataFrame(
        [("r:png", png_encode(w, h, 1, smooth)),
         ("r:jpeg", jpeg_encode_gray(w, h, smooth)),
         ("n:png", png_encode(9, 8, 1, noise))],
        ["img_id", "content"])
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_neardup_pairs(imgs).collect()}
    assert pairs == {("r:jpeg", "r:png"): 0}

    # noise through JPEG honestly drifts past the join's Hamming cap
    jb = jpeg_encode_gray(9, 8, noise)
    jw, jh, _nc, ly = jpeg_decode_luma(jb)
    drift = bin(dhash64(9, 8, noise) ^ dhash64(jw, jh, ly)).count("1")
    assert drift > 2


def test_cusum_bucket_grain_agrees_with_row_grain_at_unit_buckets(spark):
    """The bucket-resolution contract's exact corner: when every
    bucket holds at most one row (bucket_ms=1, unique per-key ts) the
    bucket-grain readout IS the row-grain cusum_changepoint — same n,
    same cumulative change index, same exact-decimal magnitude — and
    change_bucket_ms is the change row's own timestamp."""
    from market_data_ingestor_go_spark.operators.timeseries import (
        cusum_bucket_stats, cusum_from_bucket_stats, cusum_changepoint)

    rows = [("a", t, i, 1.0 if t <= 8 else 5.0)
            for i, t in enumerate(range(1, 13))] + \
           [("b", t, i, 2.5) for i, t in enumerate(range(1, 6))]
    df = spark.createDataFrame(
        rows, ["event_type", "ts_ms", "event_id", "value"])

    row_grain = {r["event_type"]: r for r in cusum_changepoint(
        df, "event_type", ["ts_ms", "event_id"], "value").collect()}
    bucket = {r["event_type"]: r for r in cusum_from_bucket_stats(
        cusum_bucket_stats(df, bucket_ms=1)).collect()}

    assert set(bucket) == set(row_grain) == {"a", "b"}
    for k in bucket:
        assert bucket[k]["n"] == row_grain[k]["n"]
        assert bucket[k]["change_cum_idx"] == row_grain[k]["change_idx"]
        assert bucket[k]["cusum_mag"] == row_grain[k]["cusum_mag"]
    # the level shift after ts=8 localizes to ts 8 exactly
    assert bucket["a"]["change_bucket_ms"] == 8
    assert bucket["a"]["change_cum_idx"] == 8


def test_audio_afp_invariances_unit():
    """The spectral-band-gradient audio fingerprint
    (functions/afp_minimal) is invariant to uniform gain change and a
    lossless 24-bit re-pack, robust (small Hamming) to 8-bit
    requantization, and far from a different clip."""
    import hashlib

    import numpy as np

    from market_data_ingestor_go_spark.functions.afp_minimal import afp64
    from market_data_ingestor_go_spark.functions.wav_minimal import (
        pcm_samples, wav_decode, wav_encode)

    def synth(seed: bytes, n=2000, rate=8000):
        h = hashlib.sha256(seed).digest()
        t = np.arange(n) / rate
        sig = np.zeros(n)
        for i in range(3):
            sig += (0.15 + h[i * 3 + 1] / 512) * np.sin(
                2 * np.pi * (100 + h[i * 3] * 12) * t
                + h[i * 3 + 2] / 256 * 2 * np.pi)
        blocks = [hashlib.sha256(h + i.to_bytes(4, "little")).digest()
                  for i in range((n + 31) // 32)]
        noise = np.frombuffer(b"".join(blocks)[:n], dtype=np.uint8)
        sig += 0.08 * (noise.astype(np.float64) / 127.5 - 1.0)
        return sig / max(1.0, float(np.max(np.abs(sig))) * 1.1)

    def afp_of(blob):
        _r, _c, bits, pcm = wav_decode(blob)
        return afp64(np.asarray(pcm_samples(pcm, bits)))

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    for k in range(8):
        sig = synth(f"clip {k}".encode())
        s16 = [int(s * 32767) for s in sig]
        base = afp_of(wav_encode(8000, 1, 16, s16))
        # gain x0.5: every band energy scales together
        vol = afp_of(wav_encode(8000, 1, 16,
                                [int(s * 0.5 * 32767) for s in sig]))
        assert ham(base, vol) <= 1
        # 24-bit re-pack decodes to BIT-identical floats
        b24 = afp_of(wav_encode(8000, 1, 24, [s << 8 for s in s16]))
        assert b24 == base
        # 8-bit requantization: small perturbation, not identity
        req = afp_of(wav_encode(8000, 1, 8, [int(s * 127) for s in sig]))
        assert ham(base, req) <= 10
        # a different clip is far outside the join's Hamming 3
        other = afp_of(wav_encode(
            8000, 1, 16, [int(s * 32767) for s in synth(f"z{k}".encode())]))
        assert ham(base, other) > 3


def test_audio_afp_neardup_catches_what_byte_dedup_misses(spark):
    """The audio hand case: gain-halved and 24-bit-repacked copies of
    one clip are DISTINCT blobs to byte dedup but pair at tiny Hamming
    through the fingerprint join; a corrupt clip rides along as a
    NULL fingerprint and never enters the join."""
    import hashlib

    from market_data_ingestor_go_spark.operators.multimodal import (
        audio_afp, audio_neardup_pairs, synthetic_doc_audio)

    docs = spark.createDataFrame(
        [(15, "the quick brown fox jumps over the lazy dog"),
         (1, "an entirely different document body")],
        ["doc_id", "text"])
    clips = synthetic_doc_audio(docs)  # 15 -> orig+vol+b24, 1 -> orig
    blobs = clips.collect()
    assert {r["audio_id"] for r in blobs} == {
        "15:orig", "15:vol", "15:b24", "1:orig"}
    assert len({hashlib.sha256(bytes(r["content"])).hexdigest()
                for r in blobs}) == 4  # byte dedup sees 4 unrelated blobs

    corrupt = spark.createDataFrame([("bad", b"RIFF\x00\x00\x00\x00WAVE")],
                                    ["audio_id", "content"])
    sigs = {r["audio_id"]: r["afp"]
            for r in audio_afp(clips.union(corrupt)).collect()}
    assert sigs["bad"] is None
    assert sigs["15:b24"] == sigs["15:orig"]
    assert sigs["1:orig"] != sigs["15:orig"]

    pairs = {(r["id_a"], r["id_b"]) for r in
             audio_neardup_pairs(clips.union(corrupt)).collect()}
    assert pairs == {("15:b24", "15:orig"), ("15:b24", "15:vol"),
                     ("15:orig", "15:vol")}


def test_video_frame_neardup_catches_what_byte_dedup_misses(spark):
    """The video hand case: a rotated-palette re-encode (identical
    pixels, different bytes) shares all 6 frame hashes with the
    original and an every-2nd-frame subsample shares exactly 3, while
    byte dedup sees three unrelated blobs; a corrupt clip contributes
    zero frame rows and never pairs."""
    import hashlib

    from market_data_ingestor_go_spark.operators.multimodal import (
        video_frame_signatures, video_neardup_pairs,
        synthetic_doc_videos)

    docs = spark.createDataFrame(
        [(15, "the quick brown fox jumps over the lazy dog"),
         (1, "an entirely different document body")],
        ["doc_id", "text"])
    vids = synthetic_doc_videos(docs)  # 15 -> orig+sub2+re, 1 -> orig
    blobs = vids.collect()
    assert {r["vid_id"] for r in blobs} == {
        "15:orig", "15:sub2", "15:re", "1:orig"}
    assert len({hashlib.sha256(bytes(r["content"])).hexdigest()
                for r in blobs}) == 4

    corrupt = spark.createDataFrame([("bad", b"GIF87a\x00")],
                                    ["vid_id", "content"])
    sigs = video_frame_signatures(vids.union(corrupt)).collect()
    per_vid = {}
    for r in sigs:
        per_vid.setdefault(r["vid_id"], set()).add(r["dhash"])
    assert "bad" not in per_vid
    assert len(per_vid["15:orig"]) == 6
    assert per_vid["15:re"] == per_vid["15:orig"]
    assert per_vid["15:sub2"] < per_vid["15:orig"]
    assert len(per_vid["15:sub2"]) == 3
    assert per_vid["1:orig"].isdisjoint(per_vid["15:orig"])

    pairs = {(r["id_a"], r["id_b"], r["n_shared"]) for r in
             video_neardup_pairs(vids.union(corrupt)).collect()}
    assert pairs == {("15:orig", "15:re", 6),
                     ("15:re", "15:sub2", 3),
                     ("15:orig", "15:sub2", 3)}


def test_dhash_invariance_properties():
    """Property tests (hypothesis) for the dHash invariance claims on
    ARBITRARY images, not just the sha256-derived fixtures: for any
    9×8 luma buffer, (a) any integer-ratio nearest-neighbor upscale
    hashes identically (the box average recovers the grid), and
    (b) any global brightness shift that stays within [0, 255]
    flips no bit; (c) hashes round-trip the signed-BIGINT encoding."""
    from hypothesis import given, settings, strategies as st

    from market_data_ingestor_go_spark.functions.dhash_minimal import (
        dhash64)
    from market_data_ingestor_go_spark.functions.png_minimal import (
        resize_nearest)

    @settings(max_examples=40, deadline=None)
    @given(px=st.lists(st.integers(16, 223), min_size=72, max_size=72),
           k=st.integers(2, 4),
           shift=st.integers(-16, 32))
    def run(px, k, shift):
        base = bytes(px)
        h0 = dhash64(9, 8, base)
        assert -(1 << 63) <= h0 < (1 << 63)
        up = resize_nearest(9, 8, 1, base, 9 * k, 8 * k)
        assert dhash64(9 * k, 8 * k, up) == h0
        if all(0 <= p + shift <= 255 for p in px):
            assert dhash64(9, 8, bytes(p + shift for p in px)) == h0

    run()


def test_equi_depth_scale_path_tracks_exact_ntile(spark):
    """The approx-quantile + scan-side-assignment bucketing (the
    100 TB swap the doc_length_buckets docstring promises) tracks the
    exact ntile: with exact ranks (relative_error=0) every bucket's
    size is within the boundary-tie slack of N/n, assignment is
    monotone in the value, and the assignment plan is MAP-ONLY (no
    exchange, no window)."""
    from market_data_ingestor_go_spark.functions.text import token_count
    from market_data_ingestor_go_spark.operators.training import (
        assign_equi_depth_buckets, equi_depth_boundaries)
    from market_data_ingestor_go_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", token_count("text").cast("double")
                .alias("n_tok"))
    n_buckets = 8
    bounds = equi_depth_boundaries(d, "n_tok", n_buckets, 0.0)
    assert len(bounds) == n_buckets - 1
    assert bounds == sorted(bounds)

    assigned = assign_equi_depth_buckets(d, "n_tok", bounds)
    rows = assigned.collect()
    n = len(rows)
    from collections import Counter
    sizes = Counter(r["bucket"] for r in rows)
    assert set(sizes) <= set(range(1, n_buckets + 1))
    # ties at a boundary all fall one side, so a bucket can deviate
    # from N/n by at most the largest tie group crossing a boundary
    max_tie = Counter(r["n_tok"] for r in rows).most_common(1)[0][1]
    for b in range(1, n_buckets + 1):
        assert abs(sizes.get(b, 0) - n / n_buckets) <= max_tie + 1
    # monotone: sort by value — bucket ids must be non-decreasing
    by_val = sorted(rows, key=lambda r: r["n_tok"])
    assert all(a["bucket"] <= b["bucket"]
               for a, b in zip(by_val, by_val[1:]))
    # map-only assignment
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "windowspecdefinition" not in plan


def test_cusum_bucket_negative_ts_matches_duckdb(spark):
    """Engine-vs-engine: bucket assignment for PRE-EPOCH (negative)
    timestamps must agree with the DuckDB oracle's `//` +
    negative-remainder correction — duckdb 1.0.0's `//` truncates
    toward zero like Spark's `div`, so the floor contract must be
    spelled out identically on both sides (r12 review catch)."""
    import duckdb
    import pandas as pd

    from market_data_ingestor_go_spark.operators.timeseries import (
        cusum_bucket_stats)

    pdf = pd.DataFrame({
        "event_type": ["a"] * 5,
        "ts_ms": [-7_200_000, -3_600_001, -1, 0, 3_599_999],
        "value": [1.0, 2.0, 3.0, 4.0, 5.0],
    })
    got = sorted((r["k"], r["b"], r["n_b"], str(r["s_b"])) for r in
                 cusum_bucket_stats(spark.createDataFrame(pdf),
                                    bucket_ms=3_600_000).collect())
    con = duckdb.connect()
    con.register("t", pdf)
    want = sorted(map(tuple, con.execute("""
SELECT event_type AS k,
       (ts_ms // 3600000
        - CASE WHEN ts_ms % 3600000 < 0 THEN 1 ELSE 0 END)
       * 3600000 AS b,
       CAST(COUNT(value) AS BIGINT) AS n_b,
       CAST(CAST(SUM(CAST(value AS DECIMAL(27,6)))
                 AS DECIMAL(27,6)) AS VARCHAR) AS s_b
FROM t GROUP BY 1, 2 ORDER BY 1, 2
""").fetchall()))
    assert got == want
    # -1 ms lands alone in the [-3600000, 0) bucket (not widening
    # bucket 0); -3600001 floors down into [-7200000, -3600000)
    assert any(b == -3_600_000 and n == 1 for _, b, n, _s in got)
    assert any(b == -7_200_000 and n == 2 for _, b, n, _s in got)


def test_triangle_counts_hand_graph(spark):
    """Known graph: a 4-clique {1,2,3,4} (every node in C(3,2)=3
    triangles, clustering 1.0), a chain 5-6-7 (zero triangles,
    mid-node clustering 0), and a dangling edge 7-8; duplicate and
    reversed input pairs must not change any count."""
    from market_data_ingestor_go_spark.operators.graph import (
        triangle_counts)

    pairs = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4)
             if a < b] + [(5, 6), (6, 7), (7, 8),
                          (6, 5), (5, 6)]  # reversed + duplicate
    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    got = {r["id"]: (r["degree"], r["n_triangles"], r["clustering"])
           for r in triangle_counts(df).collect()}
    assert got == {
        1: (3, 3, 1.0), 2: (3, 3, 1.0), 3: (3, 3, 1.0), 4: (3, 3, 1.0),
        5: (1, 0, 0.0), 6: (2, 0, 0.0), 7: (2, 0, 0.0), 8: (1, 0, 0.0),
    }


def test_triangle_degree_orientation_kills_hub_wedges(spark):
    """The Suri-Vassilvitskii skew guarantee (r12 verdict #3): on a
    star graph with one hub of degree n, id-orientation centers all
    C(n,2) wedges on the hub (quadratic — the curse of the last
    reducer) while degree-orientation points every edge leaf→hub so
    the wedge volume is ZERO. Wedge volume = Σ C(outdeg(src), 2) over
    the oriented edge frame — the exact row count the triangle close
    would shuffle. Outputs stay orientation-invariant: the star has
    no triangles and every degree is undirected."""
    from pyspark.sql import functions as F

    from market_data_ingestor_go_spark.operators.graph import (
        oriented_edges, triangle_counts)

    n = 200
    hub = 0  # smallest id -> id-orientation centers every wedge on it
    pairs = spark.createDataFrame([(hub, i) for i in range(1, n + 1)],
                                  ["doc_a", "doc_b"])

    def wedge_volume(by_degree):
        out = (oriented_edges(pairs, by_degree=by_degree)
               .groupBy("src").agg(F.count("*").alias("od"))
               .agg(F.sum(F.expr("od * (od - 1) div 2")).alias("w"))
               .collect()[0]["w"])
        return int(out or 0)

    assert wedge_volume(by_degree=False) == n * (n - 1) // 2  # 19900
    assert wedge_volume(by_degree=True) == 0

    got = {r["id"]: (r["degree"], r["n_triangles"])
           for r in triangle_counts(pairs).collect()}
    assert got[hub] == (n, 0)
    assert all(got[i] == (1, 0) for i in range(1, n + 1))


def test_interval_overlap_join_hand_cases(spark):
    """Closed-interval semantics on a known set: touching endpoints
    overlap by 1 day, containment reports the inner length, disjoint
    pairs never appear, and intervals spanning bucket boundaries are
    still found exactly once (the distinct after the cell explode)."""
    from market_data_ingestor_go_spark.operators.timeseries import (
        interval_overlap_join)

    a = spark.createDataFrame(
        [("a1", 0, 10), ("a2", 40, 45), ("a3", 100, 200)],
        ["a_id", "s", "e"])
    b = spark.createDataFrame(
        [("b1", 10, 20),    # touches a1 at day 10 -> overlap 1
         ("b2", 2, 5),      # inside a1 -> overlap 4
         ("b3", 50, 60),    # disjoint from everything
         ("b4", 150, 160)],  # inside a3 (spans bucket boundaries)
        ["b_id", "s2", "e2"])
    got = {(r["a_id"], r["b_id"]): r["overlap"] for r in
           interval_overlap_join(a, b, "s", "e", "s2", "e2",
                                 bucket=32).collect()}
    assert got == {("a1", "b1"): 1, ("a1", "b2"): 4,
                   ("a3", "b4"): 11}


def test_interval_overlap_join_keyed_wide_payload(spark):
    """r12 verdict #2: with explicit a_keys/b_keys the candidate
    exchange is keys+bounds only — wide payload columns are
    re-attached AFTER the exact filter and never ride the cell join
    or the pair dedup — and pair identity is the declared keys, so
    rows that differ only in payload each keep their pair. Pinned two
    ways: (1) output correctness incl. per-row payloads on a fixture
    whose two a-rows share one interval, (2) plan shape — the
    dropDuplicates aggregate groups on keys alone under keyed mode,
    while legacy mode's groups every column including the payload
    (the exchange-carries-payload defect)."""
    from market_data_ingestor_go_spark.operators.timeseries import (
        interval_overlap_join)

    wide = "x" * 1000
    a = spark.createDataFrame(
        [("a1", 0, 10, wide + "1"), ("a2", 0, 10, wide + "2"),
         ("a3", 100, 120, wide + "3")],
        ["a_id", "s", "e", "payload"])
    b = spark.createDataFrame(
        [("b1", 5, 40, 7.5), ("b2", 200, 300, 1.0)],
        ["b_id", "s2", "e2", "score"])

    keyed = interval_overlap_join(a, b, "s", "e", "s2", "e2", bucket=8,
                                  a_keys=["a_id"], b_keys=["b_id"])
    got = {(r["a_id"], r["b_id"]): (r["overlap"], r["payload"],
                                    r["score"])
           for r in keyed.collect()}
    assert got == {("a1", "b1"): (6, wide + "1", 7.5),
                   ("a2", "b1"): (6, wide + "2", 7.5)}

    def agg_key_lines(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [ln for ln in plan.splitlines()
                if "HashAggregate(keys=" in ln]

    # keyed: no dedup aggregate groups on the payload; legacy: the
    # full-row distinct does (payload rides the exchange)
    assert agg_key_lines(keyed), "expected a dedup aggregate"
    assert not any("payload" in ln for ln in agg_key_lines(keyed))
    legacy = interval_overlap_join(a, b, "s", "e", "s2", "e2", bucket=8)
    assert any("payload" in ln for ln in agg_key_lines(legacy))


def test_interval_overlap_join_keyed_rejects_name_collisions(spark):
    """r14 (ADVICE): keyed mode's re-attach joins run on the combined
    pair frame, so colliding payload names across sides — or a payload
    named 'overlap'/'__cell' — would yield ambiguous columns; the
    operator now rejects them eagerly with the offending names."""
    import pytest
    from market_data_ingestor_go_spark.operators.timeseries import (
        interval_overlap_join)

    a = spark.createDataFrame([("a1", 0, 10, "pa")],
                              ["a_id", "s", "e", "note"])
    b_clash = spark.createDataFrame([("b1", 5, 8, "pb")],
                                    ["b_id", "s2", "e2", "note"])
    with pytest.raises(ValueError, match="note"):
        interval_overlap_join(a, b_clash, "s", "e", "s2", "e2",
                              a_keys=["a_id"], b_keys=["b_id"])

    b_reserved = spark.createDataFrame([("b1", 5, 8, 1.0)],
                                       ["b_id", "s2", "e2", "overlap"])
    with pytest.raises(ValueError, match="overlap"):
        interval_overlap_join(a, b_reserved, "s", "e", "s2", "e2",
                              a_keys=["a_id"], b_keys=["b_id"])

    # r15 ADVICE: KEY and BOUND names hit the same reserved set — a
    # key named 'overlap' would be silently overwritten by the
    # emitted column, a bound named '__cell' collides with the grid.
    b_key_reserved = spark.createDataFrame(
        [("b1", 5, 8)], ["overlap", "s2", "e2"])
    with pytest.raises(ValueError, match="overlap"):
        interval_overlap_join(a, b_key_reserved, "s", "e", "s2", "e2",
                              a_keys=["a_id"], b_keys=["overlap"])
    a_bound_reserved = spark.createDataFrame(
        [("a1", 0, 10)], ["a_id", "__cell", "e"])
    b_plain = spark.createDataFrame([("b1", 5, 8)],
                                    ["b_id", "s2", "e2"])
    with pytest.raises(ValueError, match="__cell"):
        interval_overlap_join(a_bound_reserved, b_plain,
                              "__cell", "e", "s2", "e2",
                              a_keys=["a_id"], b_keys=["b_id"])

    # disjoint names still work (and legacy mode is untouched)
    b_ok = spark.createDataFrame([("b1", 5, 8, 1.0)],
                                 ["b_id", "s2", "e2", "score"])
    rows = interval_overlap_join(a, b_ok, "s", "e", "s2", "e2",
                                 a_keys=["a_id"],
                                 b_keys=["b_id"]).collect()
    assert [(r["a_id"], r["b_id"], r["overlap"], r["note"], r["score"])
            for r in rows] == [("a1", "b1", 4, "pa", 1.0)]


def test_dq_profile_approx_accuracy(spark):
    """The HLL profile twin's accuracy contract (the
    equi_depth_boundaries-vs-exact-ntile pattern): per column of
    orders at sf0.01, exact row/null counts must MATCH the exact
    profile bit-for-bit (they are plain sums, not sketched) and the
    HLL distinct estimate must sit within 5% relative error of the
    exact distinct count (lgK=12 standard error ≈1.04/√4096 ≈ 1.6%;
    5% is >3σ — a deterministic-sketch contract, not a flaky bound)."""
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES

    sf = "/root/testdata/sf0.01"
    exact = {r["column_name"]: r for r in
             ALL_QUERIES["orders_dq_profile"](spark, sf).collect()}
    approx = {r["column_name"]: r for r in
              ALL_QUERIES["orders_dq_profile_approx"](spark, sf)
              .collect()}
    assert set(exact) == set(approx)
    for c, e in exact.items():
        a = approx[c]
        assert a["n_rows"] == e["n_rows"]
        assert a["n_null"] == e["n_null"]
        rel = abs(a["approx_distinct"] - e["n_distinct"]) / e["n_distinct"]
        assert rel <= 0.05, (c, a["approx_distinct"], e["n_distinct"])


def test_quality_floor_approx_accuracy(spark):
    """The GK quality-floor twin's accuracy contract (the DQ-profile
    approx pattern): on the real documents table at sf0.01, per
    source — n_docs matches the exact form bit-for-bit (plain
    counts), the approx threshold's exact ascending rank sits within
    n/accuracy + 1 of the exact form's ceil(n/4) target (GK bound
    plus the estimator's one-rank definitional offset), and the kept
    accounting is internally consistent with the approx threshold
    (n_kept/kept_sum recomputed from the data match exactly)."""
    from pyspark.sql import functions as F

    from market_data_ingestor_go_spark.functions.text import token_count
    from market_data_ingestor_go_spark.operators.training import (
        quality_floor_summary, quality_floor_summary_approx)
    from market_data_ingestor_go_spark.sources.tables import load_table

    d = (load_table(spark, "/root/testdata/sf0.01", "documents")
         .filter(F.col("text").isNotNull())
         .select("source", "doc_id",
                 token_count("text").cast("bigint").alias("n_tok")))
    exact = {r["source"]: r for r in
             quality_floor_summary(d, "source", "n_tok").collect()}
    approx = {r["source"]: r for r in
              quality_floor_summary_approx(d, "source", "n_tok",
                                           accuracy=10000).collect()}
    assert set(exact) == set(approx)
    vals = {s: sorted(r["n_tok"] for r in rows) for s, rows in
            __import__("itertools").groupby(
                sorted(d.collect(), key=lambda r: r["source"]),
                key=lambda r: r["source"])}
    for s, e in exact.items():
        a = approx[s]
        assert a["n_docs"] == e["n_docs"]
        xs = vals[s]
        n = len(xs)
        # exact ascending rank of the approx threshold (first index
        # holding it, 1-based) vs the exact target ceil(n/4)
        import bisect
        rk = bisect.bisect_left(xs, a["threshold"]) + 1
        assert xs[rk - 1] == a["threshold"]  # GK returns an element
        target = (n + 3) // 4
        assert abs(rk - target) <= n // 10000 + 1, (s, rk, target)
        # internal consistency of the kept accounting
        kept = [x for x in xs if x >= a["threshold"]]
        assert a["n_kept"] == len(kept)
        assert a["kept_sum"] == sum(kept)


def test_quality_floor_hand_cases(spark):
    """Known groups: a has metrics [1..8] (ceil(8/4)=2 -> threshold 2,
    keeps 7 rows summing 35); b has ties at the threshold rank
    ([5,5,5,5]: ceil(4/4)=1 -> threshold 5, keeps ALL — the value at
    a rank is tie-independent); c is a singleton (ceil(1/4)=1 ->
    threshold = its own value, kept)."""
    from market_data_ingestor_go_spark.operators.training import (
        quality_floor_summary)

    rows = ([("a", i, i) for i in range(1, 9)]
            + [("b", i, 5) for i in range(4)]
            + [("c", 0, 42)])
    df = spark.createDataFrame(rows, ["g", "doc_id", "m"])
    got = {r["g"]: (r["n_docs"], r["threshold"], r["n_kept"],
                    r["kept_sum"])
           for r in quality_floor_summary(df, "g", "m").collect()}
    assert got == {"a": (8, 2, 7, 35), "b": (4, 5, 4, 20),
                   "c": (1, 42, 1, 42)}


def test_quality_floor_histogram_spine_multichunk(spark):
    """r16: the histogram-spine rewrite must stay exact when the
    value domain spans several floor(m/1024) chunks and ties sit
    exactly ON a chunk boundary — checked against a brute-force
    Python reference (the pre-r16 per-row rank semantics)."""
    import math

    from market_data_ingestor_go_spark.operators.training import (
        quality_floor_summary)

    vals = ([100, 1024, 1024, 1024, 2048, 2049, 3000, 5000, 5000,
             9000, 9001]
            + [1023, 1025, 4096])
    rows = [("g1", i, v) for i, v in enumerate(vals)]
    rows += [("g2", i, v) for i, v in enumerate([7, 70, 7000])]
    df = spark.createDataFrame(rows, ["g", "doc_id", "m"])
    got = {r["g"]: (r["n_docs"], r["threshold"], r["n_kept"],
                    r["kept_sum"])
           for r in quality_floor_summary(df, "g", "m").collect()}

    def ref(ms):
        s = sorted(ms)
        th = s[math.ceil(len(s) / 4) - 1]
        kept = [v for v in ms if v >= th]
        return (len(ms), th, len(kept), sum(kept))

    assert got == {"g1": ref(vals), "g2": ref([7, 70, 7000])}


def test_pareto_chunked_equals_window_reference(spark):
    """r16: the chunk-ledger top-k selection in pareto_from_spend
    must match the pre-r16 per-segment rank-window semantics —
    brute-force Python reference over synthetic spends with ties
    that STRADDLE the ⌈n/10⌉ boundary and values spanning several
    floor(spend/1024) chunks."""
    from decimal import Decimal

    from market_data_ingestor_go_spark.operators.timeseries import (
        pareto_from_spend)

    # segment A: 23 customers, the k=3 boundary falls INSIDE a tie
    # run of spend=50000 (custkey decides membership); segment B: 4
    # customers in one chunk (degenerate worst case)
    spends_a = ([900000, 51200, 50000, 50000, 50000, 50000] +
                [40000 + 7 * i for i in range(17)])
    rows = [(i + 1, Decimal(s)) for i, s in enumerate(spends_a)]
    rows += [(100 + i, Decimal(777)) for i in range(4)]
    spend = spark.createDataFrame(
        rows, "o_custkey bigint, spend decimal(37,6)")
    cust = spark.createDataFrame(
        [(i + 1, "A") for i in range(len(spends_a))]
        + [(100 + i, "B") for i in range(4)],
        "c_custkey bigint, c_mktsegment string")
    got = {r.c_mktsegment: r for r in
           pareto_from_spend(spend, cust).collect()}

    def ref(pairs):  # [(custkey, spend)] -> (n, k, share)
        order = sorted(pairs, key=lambda p: (-p[1], p[0]))
        n = len(order)
        k = (n + 9) // 10
        top = sum(s for _, s in order[:k])
        tot = sum(s for _, s in order)
        return n, k, float(top) / float(tot)

    for seg, pairs in (("A", [(i + 1, s)
                              for i, s in enumerate(spends_a)]),
                       ("B", [(100 + i, 777) for i in range(4)])):
        n, k, share = ref(pairs)
        r = got[seg]
        assert (r.n_customers, r.k_top10) == (n, k), (seg, r)
        assert abs(r.top10_share - share) < 1e-12, (seg, r, share)


def test_conversion_latency_matches_python_reference(spark):
    """r16: the chunk-ledger two-rank selection in
    events_conversion_latency must reproduce the pre-r16 global
    rank-window semantics exactly — Python reference over the
    sf0.001 fixture (exact lower-quantile elements at (n+1) div 2
    and (9n+9) div 10, exact mean)."""
    from market_data_ingestor_go_spark.plans.queries import (
        ALL_QUERIES, _events)

    sf = "/root/testdata/sf0.001"
    e = _events(spark, sf)
    fv = (e.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts_ms").alias("v_ts")))
    lats = sorted(r.lat for r in
                  (e.filter(F.col("event_type") == "purchase")
                   .select("user_id", "ts_ms").join(fv, "user_id")
                   .filter(F.col("ts_ms") >= F.col("v_ts"))
                   .groupBy("user_id")
                   .agg((F.min("ts_ms") - F.min("v_ts")).alias("lat"))
                   ).collect())
    n = len(lats)
    assert n > 0
    got = ALL_QUERIES["events_conversion_latency"](
        spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_converted == n
    assert r.median_latency_ms == lats[(n + 1) // 2 - 1]
    assert r.p90_latency_ms == lats[(9 * n + 9) // 10 - 1]
    assert r.mean_latency_ms == float(sum(lats)) / n


def test_fk_orphan_audit_detects_injected_orphans(spark, tmp_path):
    """fk_orphan_audit (r14): the production testdata is clean, so
    prove detection on a synthetic warehouse with KNOWN violations —
    two lineitem rows pointing at missing orders, one NULL l_partkey
    (not an orphan: NULLs are excluded from the rate denominator's
    numerator), one orders row at a missing customer."""
    import os as _os
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES

    sf = str(tmp_path / "mini")
    _os.makedirs(sf)

    def w(name, df):
        df.coalesce(1).write.parquet(_os.path.join(sf, f"{name}.parquet"))

    w("orders", spark.createDataFrame(
        [(1, 10), (2, 11)], "o_orderkey BIGINT, o_custkey BIGINT"))
    w("lineitem", spark.createDataFrame(
        [(1, 100, 200), (2, 101, 200), (7, 100, 201), (8, None, 200)],
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT"))
    w("part", spark.createDataFrame(
        [(100,), (101,)], "p_partkey BIGINT"))
    w("supplier", spark.createDataFrame(
        [(200,), (201,)], "s_suppkey BIGINT"))
    w("customer", spark.createDataFrame(
        [(10, 0), (12, 0)], "c_custkey BIGINT, c_nationkey INT"))
    w("nation", spark.createDataFrame(
        [(0,)], "n_nationkey INT"))

    got = {r.fk_edge: (r.n_child, r.n_nonnull, r.n_orphans,
                       r.orphan_rate)
           for r in ALL_QUERIES["fk_orphan_audit"](spark, sf).collect()}
    assert got["lineitem->orders"] == (4, 4, 2, 0.5)
    assert got["lineitem->part"] == (4, 3, 0, 0.0)
    assert got["lineitem->supplier"] == (4, 4, 0, 0.0)
    assert got["orders->customer"] == (2, 2, 1, 0.5)
    assert got["customer->nation"] == (2, 2, 0, 0.0)


def test_mannwhitney_matches_python_reference(spark, tmp_path):
    """events_mannwhitney_value_test (r14): the histogram-spine 2U and
    tie-corrected z must equal the classic per-row rank computation on
    a tie-heavy fixture (exact Fraction arithmetic for U/mean/var,
    one float sqrt at the end — the honest reference)."""
    import os as _os
    from fractions import Fraction
    import math
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES

    a = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 5.0, 8.0]     # click
    b = [2.0, 2.0, 4.0, 5.0, 6.0, 6.0, 9.0]           # view
    rows = ([(i, 1000 + i, 1, "click", v) for i, v in enumerate(a)]
            + [(100 + i, 2000 + i, 2, "view", v)
               for i, v in enumerate(b)])
    sf = str(tmp_path / "mw")
    _os.makedirs(sf)
    (spark.createDataFrame(
        rows, "event_id BIGINT, ts_ms BIGINT, user_id BIGINT, "
              "event_type STRING, value DOUBLE")
     .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
     .withColumn("props", F.lit("{}"))
     .select("event_id", "ts", "user_id", "event_type", "value",
             "props")
     .coalesce(1).write.parquet(_os.path.join(sf, "events.parquet")))

    got = ALL_QUERIES["events_mannwhitney_value_test"](
        spark, sf).collect()[0]

    # reference: U_a = sum over a of (#b < x) + 1/2 (#b == x)
    U = Fraction(0)
    for x in a:
        U += sum(1 for y in b if y < x) + Fraction(
            sum(1 for y in b if y == x), 2)
    m, n = len(a), len(b)
    pooled = a + b
    ties = {}
    for x in pooled:
        ties[x] = ties.get(x, 0) + 1
    tie_sum = sum(t ** 3 - t for t in ties.values())
    mean_u = Fraction(m * n, 2)
    var_u = (Fraction(m * n, 12)
             * (Fraction(m + n + 1)
                - Fraction(tie_sum, (m + n) * (m + n - 1))))
    z_ref = float(U - mean_u) / math.sqrt(float(var_u))

    assert got.n_click == m and got.n_view == n
    assert got.u2_statistic == float(2 * U)
    assert abs(got.z_score - z_ref) < 1e-12, (got.z_score, z_ref)


def test_skew_kurtosis_matches_python_reference(spark):
    """orders_price_skew_kurtosis (r14): the cents-exact moment
    pipeline must agree with a direct exact-Fraction computation of
    Fisher g1 / excess g2 over the same cents values (floats only in
    the final sqrt/divisions — the honest reference)."""
    from fractions import Fraction
    import math
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES
    from market_data_ingestor_go_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {r.o_orderstatus: r for r in
           ALL_QUERIES["orders_price_skew_kurtosis"](
               spark, sf).collect()}
    rows = load_table(spark, sf, "orders") \
        .select("o_orderstatus", "o_totalprice").collect()
    groups = {}
    for r in rows:
        if r.o_totalprice is not None:
            groups.setdefault(r.o_orderstatus, []).append(
                round(r.o_totalprice * 100))
    for st, cents in groups.items():
        n = len(cents)
        m1 = Fraction(sum(cents), n)
        m2 = Fraction(sum(c * c for c in cents), n) - m1 * m1
        m3 = (Fraction(sum(c ** 3 for c in cents), n)
              - 3 * m1 * Fraction(sum(c * c for c in cents), n)
              + 2 * m1 ** 3)
        m4 = (Fraction(sum(c ** 4 for c in cents), n)
              - 4 * m1 * Fraction(sum(c ** 3 for c in cents), n)
              + 6 * m1 * m1 * Fraction(sum(c * c for c in cents), n)
              - 3 * m1 ** 4)
        g1_ref = float(m3) / (float(m2) * math.sqrt(float(m2)))
        g2_ref = float(m4) / float(m2) ** 2 - 3.0
        r = got[st]
        assert abs(r.mean - float(m1) / 100.0) < 1e-9 * float(m1)
        assert abs(r.skewness - g1_ref) < 1e-9, (st, r.skewness, g1_ref)
        assert abs(r.kurtosis_excess - g2_ref) < 1e-9


def test_conversion_latency_approx_accuracy(spark):
    """The GK conversion-latency twin's accuracy contract (the
    quality-floor pattern): n and the exact-decimal mean must MATCH
    the exact query bit-for-bit (plain aggregates, not sketched), and
    each sketched quantile must itself be a latency value whose exact
    rank sits within the GK error bound of the target rank."""
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES

    sf = "/root/testdata/sf0.01"
    exact = ALL_QUERIES["events_conversion_latency"](
        spark, sf).collect()[0]
    approx = ALL_QUERIES["events_conversion_latency_approx"](
        spark, sf).collect()[0]
    assert approx.n_converted == exact.n_converted
    assert approx.mean_latency_ms == exact.mean_latency_ms
    # rank-error contract: accuracy=10000 => eps = 1/10000
    from market_data_ingestor_go_spark.plans.queries import _events
    e = _events(spark, sf)
    fv = (e.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts_ms").alias("v_ts")))
    lats = sorted(r.lat for r in
                  (e.filter(F.col("event_type") == "purchase")
                   .select("user_id", "ts_ms").join(fv, "user_id")
                   .filter(F.col("ts_ms") >= F.col("v_ts"))
                   .groupBy("user_id")
                   .agg((F.min("ts_ms") - F.min("v_ts")).alias("lat"))
                   ).collect())
    n = len(lats)
    eps = 1.0 / 10000
    for q, got in ((0.5, approx.median_latency_ms),
                   (0.9, approx.p90_latency_ms)):
        lo = sum(1 for x in lats if x < got)
        hi = sum(1 for x in lats if x <= got)
        target = q * n
        assert lo - eps * n <= target <= hi + eps * n + 1, \
            (q, got, lo, hi, target)


def test_revenue_pareto_approx_accuracy(spark):
    """The GK Pareto twin's accuracy contract: per segment,
    n_customers and total spend agree with the exact query; the
    sketched top-10% share sits within 2% absolute of the exact
    share, and k_top10 within max(2, 5%) of the exact count (tie
    inflation documented)."""
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES

    sf = "/root/testdata/sf0.01"
    exact = {r.c_mktsegment: r for r in
             ALL_QUERIES["customer_revenue_pareto"](spark, sf).collect()}
    approx = {r.c_mktsegment: r for r in
              ALL_QUERIES["customer_revenue_pareto_approx"](
                  spark, sf).collect()}
    assert set(exact) == set(approx)
    for seg, ex in exact.items():
        ap = approx[seg]
        assert ap.n_customers == ex.n_customers
        assert abs(ap.top10_share - ex.top10_share) < 0.02, \
            (seg, ap.top10_share, ex.top10_share)
        assert abs(ap.k_top10 - ex.k_top10) <= max(
            2, 0.05 * ex.k_top10), (seg, ap.k_top10, ex.k_top10)


def test_weighted_systematic_sample_invariants(spark):
    """docs_weighted_sample (r14): grid-crossing invariants — the
    pick multiplicities sum to EXACTLY k (every grid point lands in
    exactly one weight interval), distinct picked rows <= k, and
    every whale (w > total/k) is necessarily picked."""
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES
    from market_data_ingestor_go_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    got = ALL_QUERIES["docs_weighted_sample"](spark, sf).collect()
    k = 100
    assert sum(r.n_picks for r in got) == k
    assert len(got) <= k
    total = (load_table(spark, sf, "documents")
             .filter("n_chars IS NOT NULL AND n_chars > 0")
             .agg(F.sum("n_chars")).collect()[0][0])
    picked = {r.doc_id for r in got}
    whales = [r.doc_id for r in
              load_table(spark, sf, "documents")
              .filter(F.col("n_chars") * k > total).collect()]
    assert set(whales) <= picked


def test_conversion_latency_empty_conversion_shape(spark, tmp_path):
    """r15 ADVICE: when NO user converts, the exact query, the DuckDB
    oracle, and the GK approx twin must agree on ZERO rows — the
    groupBy('n') exact form emits nothing over an empty frame, so the
    oracle carries HAVING COUNT(*) > 0 and the approx twin filters
    n_converted > 0; without those the three shapes disagreed (0 vs 1
    NULL row) on this edge case."""
    import duckdb

    from market_data_ingestor_go_spark.plans.oracles import (
        EXTRA_ORACLES, ORACLES)
    from market_data_ingestor_go_spark.plans.queries import (
        ALL_QUERIES, _events)

    sf = "/root/testdata/sf0.001"
    # views only — no purchase ever happens, so nobody converts
    ev = (_events(spark, sf)
          .filter(F.col("event_type") != "purchase").drop("ts_ms"))
    out = str(tmp_path)
    ev.write.parquet(os.path.join(out, "events.parquet"))

    assert ALL_QUERIES["events_conversion_latency"](
        spark, out).count() == 0
    assert ALL_QUERIES["events_conversion_latency_approx"](
        spark, out).count() == 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{out}/events.parquet/*.parquet')")
    sql = {**ORACLES, **EXTRA_ORACLES}["events_conversion_latency"]
    assert con.execute(sql).fetchall() == []


def test_weighted_sample_chunked_equals_global_window(spark):
    """r15 (verdict #4): the chunked-carry weighted systematic sampler
    must be BIT-IDENTICAL to the single global cumulative-sum window
    it replaced (integer addition is associative; the 256 hash-prefix
    chunks tile the lexicographic md5 order), and the corpus-side
    window in its plan must be PARTITIONED by the chunk — the only
    unpartitioned window left runs over the ≤256-row carry ledger."""
    from market_data_ingestor_go_spark.operators.training import (
        weighted_systematic_sample)

    sf = "/root/testdata/sf0.01"
    d = load_table(spark, sf, "documents")
    out = weighted_systematic_sample(d, "n_chars", 100, "doc_id")
    got = sorted((r.doc_id, r.w, r.cum_w, r.n_picks)
                 for r in out.collect())

    # inline global-window twin (the pre-r15 form)
    h = F.md5(F.col("doc_id").cast("string"))
    base = (d.filter(F.col("n_chars").isNotNull()
                     & (F.col("n_chars") > 0))
            .select("doc_id",
                    F.col("n_chars").cast("bigint").alias("w"),
                    h.alias("h")))
    w_ord = (Window.orderBy("h", "doc_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    g = (base.withColumn("cum", F.sum("w").over(w_ord))
         .withColumn("total", F.sum("w").over(Window.partitionBy())))
    picks = (F.expr("(cum * 100) div total")
             - F.expr("((cum - w) * 100) div total"))
    want = sorted((r.doc_id, r.w, r.cum, r.n_picks) for r in
                  g.withColumn("n_picks", picks)
                  .filter(F.col("n_picks") >= 1).collect())
    assert got == want and len(got) > 0

    # plan shape: the corpus-scale window sorts WITHIN chunks — its
    # sort prefix is the chunk column, so no Sort node orders the
    # whole corpus globally by (h, id) alone.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "chunk" in plan
    for line in plan.splitlines():
        if "Sort [h" in line and "chunk" not in line:
            raise AssertionError(
                f"global (unchunked) corpus sort survives: {line}")


def test_sorted_neighborhood_rank_equals_global(spark):
    """r15: the SNM operator's chunked ranks must be IDENTICAL to the
    global row_number over the same (key, id) total order (counting
    is associative; the chunk expr is prefix-monotone), and the pair
    set must be exactly the rank-window pairs."""
    from market_data_ingestor_go_spark.operators.dedup import (
        sorted_neighborhood_pairs)

    c = load_table(spark, "/root/testdata/sf0.001", "customer") \
        .select("c_custkey", "c_name")
    pairs = sorted_neighborhood_pairs(
        c, "c_name", "c_custkey", window=3,
        chunk_expr=F.substring(F.col("c_name"), 10, 2))
    got = sorted((r.a_id, r.b_id) for r in pairs.collect())

    w = Window.orderBy("c_name", "c_custkey")
    r = c.withColumn("rn", F.row_number().over(w))
    a = r.select(F.col("c_custkey").alias("a_id"),
                 F.col("rn").alias("ra"))
    b = r.select(F.col("c_custkey").alias("b_id"),
                 F.col("rn").alias("rb"))
    want = sorted((x.a_id, x.b_id) for x in
                  a.join(b, (b["rb"] > a["ra"])
                         & (b["rb"] <= a["ra"] + 3)).collect())
    assert got == want and len(got) > 0

    # rank equality itself (not just the pair set)
    ranked = sorted((r2.a_id, r2.a_rank) for r2 in
                    pairs.select("a_id", "a_rank").distinct().collect())
    want_rk = {x.a_id: x.ra for x in a.collect()}
    for cid, rk in ranked:
        assert want_rk[cid] == rk


def test_spearman_matches_python_reference(spark):
    """r15: spearman_from_pairs must agree with a direct exact-
    Fraction tie-aware Spearman (average ranks) on a crafted
    tie-heavy fixture, to float precision."""
    from fractions import Fraction
    import math
    from market_data_ingestor_go_spark.operators.lm_quality import (
        spearman_from_pairs)

    data = [(1, 10.0), (1, 12.0), (2, 12.0), (2, 15.0), (3, 15.0),
            (3, 15.0), (4, 9.0), (5, 20.0), (5, 20.0), (2, 10.0)]
    df = spark.createDataFrame(data, ["x", "y"])
    got = spearman_from_pairs(df, "x", "y").collect()[0]
    assert got.n_rows == len(data)

    def avg_ranks(vals):
        s = sorted(vals)
        pos = {}
        for i, v in enumerate(s, start=1):
            pos.setdefault(v, []).append(i)
        return {v: Fraction(sum(ps), len(ps)) for v, ps in pos.items()}

    rx = avg_ranks([x for x, _ in data])
    ry = avg_ranks([y for _, y in data])
    xs = [rx[x] for x, _ in data]
    ys = [ry[y] for _, y in data]
    n = len(data)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(xs, ys)) / n
    vx = sum((a - mx) ** 2 for a in xs) / n
    vy = sum((b - my) ** 2 for b in ys) / n
    ref = float(cov) / math.sqrt(float(vx) * float(vy))
    assert abs(got.spearman_rho - ref) < 1e-12, (got.spearman_rho, ref)


def test_open_backlog_invariants(spark):
    """r15: the sweep-line backlog must start from zero deltas, never
    go negative, and drain to exactly zero after the last end
    boundary (every +1 is matched by a −1)."""
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES

    rows = ALL_QUERIES["orders_open_backlog_days"](
        spark, "/root/testdata/sf0.001").orderBy("day_num").collect()
    assert rows and all(r.n_open >= 0 for r in rows)
    assert rows[-1].n_open == 0


def test_kruskal_matches_python_reference(spark):
    """r15: kruskal_from_value_histogram must agree with a direct
    exact-Fraction Kruskal-Wallis (average ranks, tie correction) on
    a crafted tie-heavy 3-group fixture, to float precision."""
    from fractions import Fraction
    from market_data_ingestor_go_spark.operators.lm_quality import (
        kruskal_from_value_histogram)

    data = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0),
            ("b", 5.0), ("c", 5.0), ("c", 5.0), ("c", 7.0), ("a", 7.0)]
    df = spark.createDataFrame(data, ["g", "x"])
    state = df.groupBy("g", "x").agg(F.count("*").alias("c"))
    got = kruskal_from_value_histogram(state).collect()[0]
    assert got.n_total == len(data) and got.k_groups == 3

    vals = sorted(v for _, v in data)
    pos = {}
    for i, v in enumerate(vals, start=1):
        pos.setdefault(v, []).append(i)
    rk = {v: Fraction(sum(ps), len(ps)) for v, ps in pos.items()}
    n = len(data)
    groups = {}
    for g, v in data:
        groups.setdefault(g, []).append(rk[v])
    h = (Fraction(12, n * (n + 1))
         * sum(sum(rs) ** 2 / Fraction(len(rs)) for rs in groups.values())
         - 3 * (n + 1))
    ties = sum(len(ps) ** 3 - len(ps) for ps in pos.values())
    c = 1 - Fraction(ties, n ** 3 - n)
    assert abs(got.h_statistic - float(h)) < 1e-9
    assert abs(got.h_tie_corrected - float(h / c)) < 1e-9


def test_theilsen_and_runs_match_python_reference(spark, tmp_path):
    """r15: the Theil-Sen median slope and the runs-test statistics
    must agree with direct Python computations over the same
    day-grain series (crafted 12-day fixture with a blowout day and
    median ties)."""
    import math
    import statistics

    days = [(0, 10.0), (1, 12.0), (2, 11.0), (3, 500.0), (4, 13.0),
            (5, 14.0), (6, 12.5), (7, 15.0), (8, 14.5), (9, 16.0),
            (10, 13.25), (11, 17.0)]
    # one order per day with o_totalprice = the day's revenue
    import pandas as pd
    pdf = pd.DataFrame({
        "o_orderdate": [pd.Timestamp("1970-01-01")
                        + pd.Timedelta(days=d) for d, _ in days],
        "o_totalprice": [v for _, v in days],
    })
    out = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(out + "/orders.parquet")
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES

    ts = ALL_QUERIES["orders_theilsen_trend"](spark, out).collect()[0]
    slopes = sorted((v2 - v1) / (d2 - d1)
                    for i, (d1, v1) in enumerate(days)
                    for d2, v2 in days[i + 1:])
    assert ts.n_days == 12 and ts.n_pairs == len(slopes)
    # exact lower-median element
    assert ts.theilsen_slope == slopes[(len(slopes) + 1) // 2 - 1]

    rt = ALL_QUERIES["orders_revenue_runs_test"](spark, out).collect()[0]
    med = sorted(v for _, v in days)[(len(days) + 1) // 2 - 1]
    signs = [v > med for _, v in days if v != med]
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n1 = sum(signs); n2 = len(signs) - n1; n = len(signs)
    mu = 1.0 + 2.0 * n1 * n2 / n
    var = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n)) / (n * n * (n - 1.0))
    assert (rt.n_days_used, rt.n_above, rt.n_below, rt.n_runs) == \
        (n, n1, n2, runs)
    assert abs(rt.z_score - (runs - mu) / math.sqrt(var)) < 1e-12


def test_fulfillment_lag_approx_accuracy(spark):
    """r15: the GK fulfillment-lag twin's accuracy contract (the
    conversion-latency pattern): per priority, n and the exact mean
    must MATCH the exact query bit-for-bit (plain aggregates, not
    sketched), and each sketched quantile must be a lag value whose
    exact rank sits within the GK bound of the target rank."""
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES
    sf = "/root/testdata/sf0.01"
    exact = {r.o_orderpriority: r for r in
             ALL_QUERIES["orders_fulfillment_lag"](spark, sf).collect()}
    approx = {r.o_orderpriority: r for r in
              ALL_QUERIES["orders_fulfillment_lag_approx"](
                  spark, sf).collect()}
    assert set(exact) == set(approx)
    day0 = F.lit("1970-01-01").cast("date")
    li = (load_table(spark, sf, "lineitem")
          .select("l_orderkey",
                  F.datediff(F.col("l_shipdate").cast("date"), day0)
                  .alias("sd"))
          .groupBy("l_orderkey").agg(F.max("sd").alias("ls")))
    o = (load_table(spark, sf, "orders")
         .select("o_orderkey", "o_orderpriority",
                 F.datediff(F.col("o_orderdate").cast("date"), day0)
                 .alias("od")))
    lags = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .select("o_orderpriority", (F.col("ls") - F.col("od"))
                    .alias("lag")))
    by_p = {}
    for r in lags.collect():
        by_p.setdefault(r.o_orderpriority, []).append(r.lag)
    for p, e in exact.items():
        a = approx[p]
        assert a.n_orders == e.n_orders
        assert a.mean_lag_days == e.mean_lag_days
        vals = sorted(by_p[p])
        n = len(vals)
        eps = n / 10000 + 1
        for q, got in ((0.5, a.median_lag_days), (0.9, a.p90_lag_days)):
            lo = sum(1 for v in vals if v < got)
            hi = sum(1 for v in vals if v <= got)
            target = q * n
            assert lo - eps <= target <= hi + eps, (p, q, got)


def test_sorted_neighborhood_duplicate_keys_and_boundaries(spark):
    """r15: SNM must behave exactly like the global rank join when
    keys DUPLICATE (ties ordered by id) and when the window CROSSES
    chunk boundaries (the carry ledger must make rank-adjacent rows
    in different chunks pair up)."""
    from market_data_ingestor_go_spark.operators.dedup import (
        sorted_neighborhood_pairs)

    rows = [(i, k) for i, k in enumerate(
        ["aa", "aa", "ab", "ba", "ba", "ba", "bb", "ca", "cb", "cb"])]
    df = spark.createDataFrame(rows, ["rid", "key"])
    pairs = sorted_neighborhood_pairs(
        df, "key", "rid", window=2,
        chunk_expr=F.substring(F.col("key"), 1, 1))  # chunks a/b/c
    got = sorted((r.a_id, r.b_id) for r in pairs.collect())

    ordered = sorted(rows, key=lambda t: (t[1], t[0]))
    want = sorted((ordered[i][0], ordered[j][0])
                  for i in range(len(ordered))
                  for j in range(i + 1, min(i + 3, len(ordered))))
    assert got == want
    # boundary crossings exist: 'ab'(chunk a) pairs with 'ba'(chunk b)
    ids = {r[0]: r[1] for r in rows}
    assert any(ids[a][0] != ids[b][0] for a, b in got)


def test_ztest_and_sign_test_match_python_reference(spark):
    """r15: the two-proportion z and the paired-sign z must agree
    with direct Python formula evaluations over counts recomputed
    independently at sf0.001."""
    import math
    from market_data_ingestor_go_spark.plans.queries import (
        ALL_QUERIES, _events)

    sf = "/root/testdata/sf0.001"
    zt = ALL_QUERIES["events_purchase_rate_ztest"](spark, sf).collect()[0]
    e = _events(spark, sf).select("user_id", "event_type").collect()
    clickers = {r.user_id for r in e if r.event_type == "click"}
    purchasers = {r.user_id for r in e if r.event_type == "purchase"}
    allu = {r.user_id for r in e}
    n1, n2 = len(clickers), len(allu - clickers)
    x1 = len(clickers & purchasers)
    x2 = len((allu - clickers) & purchasers)
    assert (zt.n_clickers, zt.n_nonclickers) == (n1, n2)
    if n1 > 0 and n2 > 0:
        p1, p2, pp = x1 / n1, x2 / n2, (x1 + x2) / (n1 + n2)
        zref = (p1 - p2) / math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
        assert abs(zt.z_score - zref) < 1e-12
    else:
        # degenerate arm (every sf0.001 user clicks): the query must
        # NULL the rate/z for the empty side, not divide by zero
        assert zt.z_score is None
        if n2 == 0:
            assert zt.rate_nonclickers is None

    # crafted mixed fixture exercises the non-degenerate z formula
    rows = ([("u%d" % i, "click") for i in range(8)]
            + [("u%d" % i, "purchase") for i in range(3)]       # 3/8
            + [("v%d" % i, "view") for i in range(10)]
            + [("v%d" % i, "purchase") for i in range(1)])      # 1/10
    df = spark.createDataFrame(rows, ["user_id", "event_type"])
    # inline the query body over the crafted frame via the same exprs
    per_user = (df.filter(F.col("event_type").isin("click", "purchase"))
                .groupBy("user_id")
                .agg(F.max((F.col("event_type") == "click").cast("int"))
                     .alias("has_click"),
                     F.max((F.col("event_type") == "purchase")
                           .cast("int")).alias("has_purchase")))
    users = df.select("user_id").distinct()
    j = (users.join(per_user, "user_id", "left")
         .select(F.coalesce("has_click", F.lit(0)).alias("hc"),
                 F.coalesce("has_purchase", F.lit(0)).alias("hp")))
    got = j.agg(
        F.sum("hc").alias("n1"),
        F.sum(F.col("hc") * F.col("hp")).alias("x1"),
        F.sum(F.lit(1) - F.col("hc")).alias("n2"),
        F.sum((F.lit(1) - F.col("hc")) * F.col("hp")).alias("x2")) \
        .collect()[0]
    assert (got.n1, got.x1, got.n2, got.x2) == (8, 3, 10, 1)

    st = ALL_QUERIES["customer_yoy_sign_test"](spark, sf).collect()[0]
    from market_data_ingestor_go_spark.sources.tables import load_table
    o = load_table(spark, sf, "orders") \
        .select("o_custkey", F.year("o_orderdate").alias("yr")).collect()
    per = {}
    for r in o:
        if r.yr in (1996, 1997):
            a = per.setdefault(r.o_custkey, [0, 0])
            a[0 if r.yr == 1996 else 1] += 1
    up = sum(1 for a, b in per.values() if b > a)
    down = sum(1 for a, b in per.values() if b < a)
    n = up + down
    assert (st.n_customers_used, st.n_up, st.n_down) == (n, up, down)
    assert abs(st.z_score - (2.0 * up - n) / math.sqrt(n)) < 1e-12


def test_markov_attribution_reference(spark):
    """r15: the removal-effect attribution must agree with an
    independent pure-Python implementation of the same journey model
    (truncate at first conversion, START/CONV/NULL absorption,
    removal = redirect to NULL) — on a crafted hand-checkable
    journey set AND on the sf0.001 fixture."""
    import numpy as np
    from market_data_ingestor_go_spark.operators.timeseries import (
        markov_removal_attribution)

    def py_ref(journeys, conv="purchase"):
        counts = {}
        channels = set()
        for j in journeys:
            cut = j.index(conv) + 1 if conv in j else len(j)
            kept = j[:cut]
            prev = "START"
            for t in kept:
                dst = "CONV" if t == conv else t
                counts[(prev, dst)] = counts.get((prev, dst), 0) + 1
                if t != conv:
                    channels.add(t)
                prev = t
            if conv not in j:
                counts[(kept[-1], "NULL")] = \
                    counts.get((kept[-1], "NULL"), 0) + 1
        channels = sorted(channels)

        def conv_prob(removed=None):
            states = ["START"] + [c for c in channels if c != removed]
            idx = {s: i for i, s in enumerate(states)}
            n = len(states)
            Q = np.zeros((n, n)); r = np.zeros(n)
            for (s, d), c in counts.items():
                if s == removed or s not in idx:
                    continue
                tot = sum(v for (s2, _), v in counts.items() if s2 == s)
                p = c / tot
                if d == "CONV":
                    r[idx[s]] += p
                elif d in idx:
                    Q[idx[s], idx[d]] += p
            return float(np.linalg.solve(np.eye(n) - Q, r)[idx["START"]])

        base = conv_prob()
        return {c: 1.0 - conv_prob(c) / base for c in channels}, base

    # crafted journeys: email only converts via display assist
    journeys = [
        ["email", "display", "purchase"],
        ["email", "view"],
        ["display", "purchase"],
        ["view", "email", "display", "purchase"],
        ["view"],
        ["email", "display", "view"],
    ]
    rows = []
    eid = 0
    for u, j in enumerate(journeys):
        for k, t in enumerate(j):
            rows.append((u, 1000 * (k + 1), str(eid), t))
            eid += 1
    df = spark.createDataFrame(
        rows, ["user_id", "ts_ms", "event_id", "event_type"])
    got = {r.channel: r for r in
           markov_removal_attribution(df).collect()}
    want, base = py_ref(journeys)
    assert set(got) == set(want)
    for c, re in want.items():
        assert abs(got[c].removal_effect - re) < 1e-12, (c,)
        assert abs(got[c].base_conv_prob - base) < 1e-12

    # fixture-scale agreement (independent journey extraction)
    from market_data_ingestor_go_spark.plans.queries import _events
    e = _events(spark, "/root/testdata/sf0.001") \
        .select("user_id", "ts_ms", "event_id", "event_type").collect()
    by_u = {}
    # native event_id order — the operator's window orders by the
    # column's own type, so the reference must too (tie contract)
    for r in sorted(e, key=lambda r: (r.ts_ms, r.event_id)):
        by_u.setdefault(r.user_id, []).append(r.event_type)
    want2, base2 = py_ref(list(by_u.values()))
    got2 = {r.channel: r for r in markov_removal_attribution(
        _events(spark, "/root/testdata/sf0.001")).collect()}
    assert set(got2) == set(want2)
    for c, re in want2.items():
        assert abs(got2[c].removal_effect - re) < 1e-9, (c,)
