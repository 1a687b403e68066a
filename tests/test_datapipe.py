"""Datapipe operators vs the DuckDB oracle at sf0.001 (fast subset —
the full 29-query sweep runs via tools/oracle_check.py at sf0.01)."""
import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
FAST = [
    "dedup_exact", "dedup_minhash_signatures", "dedup_lsh_pairs",
    "dedup_simhash", "text_langid", "text_token_quality",
    "text_fingerprints", "ann_ivf_cell_topk", "media_features",
    "media_pixels", "rl_dict_stats", "rl_mention_pairs",
    "text_repetition", "text_heuristic_filters", "text_pii_stats",
    "text_corpus_filter",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", FAST)
def test_query_matches_oracle(spark, duck, name):
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from oracle_check import normalize_rows
    # Demoted-from-contract entries (e.g. the upstream LSH stages) stay
    # parity-tested here via the registry — pytest evidence backing the
    # transitive-pinning argument in __spark_entry__.py.
    from semlink.queries import REGISTRY
    contract = entrymod.queries()
    fn = contract[name] if name in contract else REGISTRY[name][0]
    sql = entrymod.oracle_sql().get(name) or REGISTRY[name][1]
    df = fn(spark, SF_DIR)
    sc, sr = normalize_rows(df.columns, [tuple(r) for r in df.collect()])
    res = duck.execute(sql)
    dc, dr = normalize_rows([d[0] for d in res.description], res.fetchall())
    assert sc == dc
    assert len(sr) == len(dr)
    assert sr == dr


def test_multimodal_pixel_stub_raises():
    from semlink.datapipe.multimodal import decode_pixels_stub
    with pytest.raises(NotImplementedError):
        decode_pixels_stub(b"abc")


def test_decode_media_header_goldens():
    """Hand-built container headers decode to known values; garbage is
    fmt=unknown, never an exception."""
    import struct
    import zlib
    from semlink.datapipe.multimodal import decode_media_header

    ihdr = struct.pack(">II", 640, 480) + bytes([8, 6, 0, 0, 0])
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + ihdr + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))
    assert decode_media_header(png) == {
        "fmt": "png", "width": 640, "height": 480, "channels": 4}

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
    assert decode_media_header(gif) == {
        "fmt": "gif", "width": 320, "height": 200, "channels": 3}

    jpeg = (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 1080, 1920) + b"\x03" + b"\x00" * 9)
    assert decode_media_header(jpeg) == {
        "fmt": "jpeg", "width": 1920, "height": 1080, "channels": 3}

    wav = (b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt "
           + struct.pack("<I", 16) + struct.pack("<HHIIHH",
                                                 1, 2, 44100, 176400, 4, 16))
    assert decode_media_header(wav) == {
        "fmt": "wav", "width": 44100, "height": 16, "channels": 2}

    for garbage in (b"", b"\x00" * 50, b"\x89PNG\r\n\x1a\n" + b"\x01",
                    b"\xff\xd8\xff"):
        assert decode_media_header(garbage)["fmt"] == "unknown"


def test_multimodal_roundtrip_real_decode(spark):
    """The JVM-synthesized PNG bytes decode back to the md5-derived
    dimensions through the Arrow mapInPandas path."""
    import hashlib
    from semlink.datapipe.multimodal import (extract_media_features,
                                             synthesize_media)
    d = spark.createDataFrame([(1, "hello world"), (2, "")],
                              "doc_id long, text string")
    feats = {r.media_id: r
             for r in extract_media_features(synthesize_media(d)).collect()}
    assert len(feats) == 2
    for doc_id, text in ((1, "hello world"), (2, "")):
        h = hashlib.md5(text.encode()).hexdigest()
        r = feats[f"m{doc_id}"]
        assert r.fmt == "png"
        assert r.width == 1 + int(h[0:2], 16) % 64
        assert r.height == 1 + int(h[2:4], 16) % 64
        assert r.channels == {0: 1, 2: 3, 4: 2, 6: 4}[(int(h[4], 16) % 4) * 2]
        # full PNG now: sig+IHDR (33) + IDAT (23 + raw) + IEND (12)
        assert r.n_bytes == 68 + r.height * (1 + r.width * r.channels)
        assert len(r.digest) == 32


def test_lsh_s_curve_parameterization(spark):
    """Sweeping (bands, rows_per_band) must move the capture threshold
    as P(candidate) = 1 - (1 - s^r)^b predicts: (b=4, r=2) has s*=0.50
    and captures J≈0.67 pairs but not J≈0.14 pairs; (b=2, r=4) has
    s*≈0.84 and captures markedly fewer of the J≈0.67 pairs."""
    from semlink.datapipe.dedup import (lsh_buckets, lsh_candidate_pairs,
                                        minhash_signatures)

    n_pairs = 60
    rows = []
    for i in range(n_pairs):
        base = [f"t{i}_{j}" for j in range(40)]
        hi = base[:32] + [f"h{i}_{j}" for j in range(8)]    # J = 32/48 ≈ 0.67
        lo = base[:10] + [f"l{i}_{j}" for j in range(30)]   # J = 10/70 ≈ 0.14
        rows.append((4 * i + 0, " ".join(base)))
        rows.append((4 * i + 1, " ".join(hi)))
        rows.append((4 * i + 2, " ".join(base)))   # twin base for the lo pair
        rows.append((4 * i + 3, " ".join(lo)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def capture_rates(bands, rpb):
        sigs = minhash_signatures(docs, k=bands * rpb, shingle_n=1)
        pairs = lsh_candidate_pairs(lsh_buckets(sigs, bands=bands,
                                                rows_per_band=rpb))
        got = {(r.left_id, r.right_id) for r in pairs.collect()}
        hi_rate = sum((4 * i, 4 * i + 1) in got for i in range(n_pairs)) / n_pairs
        lo_rate = sum((4 * i + 2, 4 * i + 3) in got for i in range(n_pairs)) / n_pairs
        return hi_rate, lo_rate

    hi_a, lo_a = capture_rates(4, 2)   # s* = 0.50: theory hi≈0.90 lo≈0.08
    hi_b, lo_b = capture_rates(2, 4)   # s* = 0.84: theory hi≈0.36 lo≈0.0008
    assert hi_a >= 0.75, f"loose LSH missed high-J pairs: {hi_a}"
    assert lo_a <= 0.30, f"loose LSH captured low-J pairs: {lo_a}"
    assert hi_b <= hi_a - 0.2, f"tight LSH should capture fewer: {hi_b} vs {hi_a}"
    assert lo_b <= 0.10, f"tight LSH captured low-J pairs: {lo_b}"


def test_decode_jpeg_standalone_markers_and_fill_bytes():
    """ADVICE r02: restart markers / TEM carry no length field and 0xFF
    fill bytes are legal padding — a SOF after them must still decode;
    EOI before any SOF ends the scan as unknown."""
    import struct
    from semlink.datapipe.multimodal import decode_media_header

    sof = (b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
           + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 9)
    # TEM + RST1 (standalone) + fill byte before the SOF marker
    jpeg = b"\xff\xd8" + b"\xff\x01" + b"\xff\xd1" + b"\xff" + sof
    assert decode_media_header(jpeg) == {
        "fmt": "jpeg", "width": 640, "height": 480, "channels": 3}

    # EOI before any SOF: scan stops cleanly, no bogus length read
    eoi_first = b"\xff\xd8" + b"\xff\xd9" + sof
    assert decode_media_header(eoi_first)["fmt"] == "unknown"


def test_shingles_exploded_matches_shingle_set(spark):
    """The lambda-free exploded shingle generator must reproduce the
    HOF array form exactly — including short docs (whole-doc join),
    empty docs ('' shingle), and duplicate shingles (distinct sets)."""
    from pyspark.sql import functions as F

    from semlink.datapipe.dedup import (minhash_signatures, shingle_set,
                                        shingles_exploded)

    rows = [(0, ""), (1, "   "), (2, "a"), (3, "a b"), (4, "a b c"),
            (5, "a b c d e"), (6, "x x x x"), (7, "p q p q p q"),
            (8, None)]  # NULL text must dedup under '' like empty docs
    d = spark.createDataFrame(rows, "doc_id long, text string")

    hof = {r.doc_id: sorted(set(r.sh)) for r in d.select(
        "doc_id", shingle_set(F.col("text"), 3).alias("sh")).collect()}
    exp = {}
    for r in shingles_exploded(d, n=3).collect():
        exp.setdefault(r.doc_id, set()).add(r.s)
    assert {k: sorted(v) for k, v in exp.items()} == hof
    # every doc, null and blank ones included, gets one signature row
    assert minhash_signatures(d).count() == len(rows)


def test_stratified_sample_deterministic_and_capped(spark):
    from semlink.datapipe.sampling import stratified_sample

    rows = [(i, f"s{i % 3}") for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id long, stratum string")
    a = stratified_sample(d, "stratum", 10, keep_rank=True)
    got = [(r.doc_id, r.stratum, r.sample_rk) for r in a.collect()]
    assert sorted(got) == sorted(
        (r.doc_id, r.stratum, r.sample_rk)
        for r in stratified_sample(d, "stratum", 10, keep_rank=True).collect())
    per = {}
    for _, s, rk in got:
        per.setdefault(s, []).append(rk)
    assert all(sorted(v) == list(range(1, 11)) for v in per.values())
    assert set(per) == {"s0", "s1", "s2"}


def test_cross_corpus_overlap_flags_planted_docs(spark):
    from semlink.datapipe.dedup import cross_corpus_overlap

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),
         (2, "epsilon zeta eta theta"),
         (3, "alpha beta gamma delta extra words here"),
         (4, "totally different content entirely")],
        "doc_id long, text string")
    bench = corpus.filter("doc_id = 1")
    out = {r.doc_id: r for r in cross_corpus_overlap(corpus, bench).collect()}
    assert out[1].contaminated and out[1].overlap6 == 1_000_000
    assert not out[2].contaminated and out[2].n_overlap == 0
    assert out[3].n_overlap == 2          # shared 'alpha beta gamma' + 'beta gamma delta'
    assert not out[4].contaminated


def test_lang_id_known_language_docs(spark):
    """Profile-based lang_id must pick the right language for real
    sentences in each profiled language, 'cjk' for CJK text via the
    byte-excess channel, and 'und' for text matching no profile."""
    from semlink.datapipe.textstats import lang_id

    rows = [
        (1, "the cat sat on the mat and it was not a big deal for the dog"),
        (2, "der Hund ist mit der Katze und sie sind nicht bei dem Haus"),
        (3, "le chat est dans la maison et il ne va pas au marché avec elle"),
        (4, "el perro es un animal y no se puede con el gato en la casa"),
        (5, "猫は屋根の上で寝ている犬と遊ぶ"),
        (6, "zxqv wvut plok mnbv qwerty asdfgh"),
        (7, None),
        (8, ""),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.lang_pred, r.top_score6)
           for r in lang_id(d).collect()}
    assert got[1][0] == "en"
    assert got[2][0] == "de"
    assert got[3][0] == "fr"
    assert got[4][0] == "es"
    assert got[5][0] == "cjk" and got[5][1] > 900_000
    assert got[6][0] == "und"
    assert got[7] == ("und", 0)
    assert got[8] == ("und", 0)


def _encode_png(img, ct, filters, palette=None):
    """Reference PNG encoder for decoder tests: real zlib compression,
    one caller-chosen filter type per scanline (forward-filtered per
    RFC 2083 §6 so the decoder must invert each type); optional PLTE
    chunk for indexed (color type 3) images."""
    import struct
    import zlib

    import numpy as np

    h, w, c = img.shape
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int64)
    for r in range(h):
        line = img[r].reshape(w * c).astype(np.int64)
        ft = filters[r % len(filters)]
        enc = line.copy()
        for x in range(w * c):
            left = int(line[x - c]) if x >= c else 0
            up = int(prev[x])
            ul = int(prev[x - c]) if x >= c else 0
            if ft == 1:
                enc[x] = (line[x] - left) % 256
            elif ft == 2:
                enc[x] = (line[x] - up) % 256
            elif ft == 3:
                enc[x] = (line[x] - (left + up) // 2) % 256
            elif ft == 4:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                enc[x] = (line[x] - pred) % 256
        raw.append(ft)
        raw.extend(int(b) for b in enc)
        prev = line

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    ihdr = struct.pack(">II", w, h) + bytes([8, ct, 0, 0, 0])
    plte = chunk(b"PLTE", palette) if palette else b""
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + plte
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_decode_png_pixels_all_filter_types():
    """decode_png_pixels must invert every PNG filter type (None, Sub,
    Up, Average, Paeth) on a real zlib-compressed stream, for 1- and
    3-channel images — digest equals md5(hex(original pixels))."""
    import hashlib

    import numpy as np

    from semlink.datapipe.multimodal import decode_png_pixels

    rng = np.random.default_rng(42)
    for ct, c in ((0, 1), (2, 3), (6, 4)):
        img = rng.integers(0, 256, size=(7, 5, c), dtype=np.uint8)
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            png = _encode_png(img, ct, filters)
            got = decode_png_pixels(png)
            want = img.tobytes()
            assert got["n_px"] == 35
            assert got["px_digest"] == hashlib.md5(
                want.hex().encode()).hexdigest(), (ct, filters)
            assert abs(got["mean"] - float(np.mean(img))) < 1e-9

    # indexed color (type 3): indices map through PLTE to RGB — raw
    # index stats would be silently wrong (mean over a white image
    # whose only palette slot is index 0 must be 255, not 0)
    palette = bytes(rng.integers(0, 256, size=15, dtype=np.uint8))
    idx_img = rng.integers(0, 5, size=(6, 4, 1), dtype=np.uint8)
    png3 = _encode_png(idx_img, 3, [0, 1, 2], palette=palette)
    got3 = decode_png_pixels(png3)
    rgb = b"".join(palette[3 * int(v):3 * int(v) + 3]
                   for v in idx_img.reshape(-1))
    assert got3["n_px"] == 24
    assert got3["px_digest"] == hashlib.md5(rgb.hex().encode()).hexdigest()
    assert abs(got3["mean"] - sum(rgb) / len(rgb)) < 1e-9
    white = _encode_png(np.zeros((2, 2, 1), np.uint8), 3, [0],
                        palette=b"\xff\xff\xff")
    assert abs(decode_png_pixels(white)["mean"] - 255.0) < 1e-9
    # indexed without PLTE, or out-of-range index: null stats
    assert decode_png_pixels(_encode_png(
        idx_img, 3, [0]))["n_px"] is None
    assert decode_png_pixels(_encode_png(
        np.full((2, 2, 1), 9, np.uint8), 3, [0],
        palette=palette))["n_px"] is None

    # garbage / truncated / non-PNG payloads: null stats, no raise
    assert decode_png_pixels(b"")["n_px"] is None
    assert decode_png_pixels(b"\x89PNG\r\n\x1a\nxx")["n_px"] is None
    assert decode_png_pixels(_encode_png(
        np.zeros((2, 2, 1), np.uint8), 0, [0])[:40])["n_px"] is None

    # Adam7-interlaced PNGs (IHDR interlace byte = 1) are rejected,
    # never decoded with sequential-scanline assumptions (ADVICE r04);
    # the interlace byte is the 13th IHDR data byte → file offset 28
    seq = _encode_png(np.zeros((2, 2, 1), np.uint8), 0, [0])
    assert decode_png_pixels(seq[:28] + b"\x01" + seq[29:])["n_px"] is None


def test_fingerprint_null_text_equals_empty(spark):
    """fp_exact follows the family-wide null==empty convention (ADVICE
    r04): a null-text doc fingerprints identically to an empty-text
    doc, matching exact_dedup / shingles / streaming dedup."""
    from semlink.datapipe.textstats import with_fingerprints

    d = spark.createDataFrame([(1, None), (2, ""), (3, "   ")],
                              "doc_id int, text string")
    rows = {r.doc_id: r.fp_exact
            for r in with_fingerprints(d).collect()}
    assert rows[1] is not None
    assert rows[1] == rows[2] == rows[3]


def _encode_gif(idx, w, h, palette, min_code_size=None):
    """Reference GIF encoder for decoder tests: real variable-width LZW
    (CLEAR first, EOI last, width bumps as the table grows) over an
    indexed image, global color table, one image descriptor."""
    import struct

    ncolors = len(palette) // 3
    bits = max(2, (ncolors - 1).bit_length())
    if min_code_size is None:
        min_code_size = bits
    clear = 1 << min_code_size
    eoi = clear + 1

    codes = [clear]
    table = {bytes([i]): i for i in range(clear)}
    next_code = clear + 2
    width = min_code_size + 1
    widths = []
    prev = b""
    for px in idx:
        cur = prev + bytes([px])
        if cur in table:
            prev = cur
        else:
            codes.append(table[prev])
            widths.append(width)
            table[cur] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
            prev = bytes([px])
    codes.append(table[prev])
    widths.append(width)
    codes.append(eoi)
    widths.append(width)
    # first CLEAR goes at the initial width
    widths.insert(0, min_code_size + 1)

    bits_out = bytearray()
    acc = 0
    nacc = 0
    for c, wd in zip(codes, widths):
        acc |= c << nacc
        nacc += wd
        while nacc >= 8:
            bits_out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    if nacc:
        bits_out.append(acc & 0xFF)

    out = bytearray(b"GIF89a")
    pal_bits = max(1, bits)
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (pal_bits - 1), 0, 0])
    full = 3 * (2 << (pal_bits - 1))
    out += palette + b"\x00" * (full - len(palette))
    out += b"\x2C" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out += bytes([min_code_size])
    data = bytes(bits_out)
    for j in range(0, len(data), 255):
        chunk = data[j:j + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3B"
    return bytes(out)


def test_decode_gif_pixels_lzw_roundtrip():
    """decode_gif_pixels must invert real variable-width LZW (including
    the KwKwK repeat case and width growth past table-size boundaries)
    and map indices through the palette — digest equals
    md5(hex(palette-mapped RGB))."""
    import hashlib

    import numpy as np

    from semlink.datapipe.multimodal import decode_gif_pixels

    rng = np.random.default_rng(7)
    palette = bytes(rng.integers(0, 256, size=12, dtype=np.uint8))  # 4 colors
    w, h = 13, 9
    cases = {
        "random": rng.integers(0, 4, size=w * h, dtype=np.uint8).tobytes(),
        "repetitive_kwkwk": (b"\x02\x02\x02\x03\x03\x03" * 30)[:w * h],
        "constant": b"\x01" * (w * h),
    }
    for name, idx in cases.items():
        gif = _encode_gif(idx, w, h, palette)
        got = decode_gif_pixels(gif)
        rgb = b"".join(palette[3 * px:3 * px + 3] for px in idx)
        assert got["n_px"] == w * h, name
        assert got["px_digest"] == hashlib.md5(
            rgb.hex().encode()).hexdigest(), name
        assert abs(got["mean"] - sum(rgb) / len(rgb)) < 1e-9, name

    # many-color image forces code-width growth beyond the initial width
    palette256 = bytes(rng.integers(0, 256, size=768, dtype=np.uint8))
    idx256 = rng.integers(0, 256, size=40 * 20, dtype=np.uint8).tobytes()
    gif = _encode_gif(idx256, 40, 20, palette256)
    got = decode_gif_pixels(gif)
    rgb = b"".join(palette256[3 * px:3 * px + 3] for px in idx256)
    assert got["n_px"] == 800
    assert got["px_digest"] == hashlib.md5(rgb.hex().encode()).hexdigest()

    # garbage / truncated / non-GIF: null stats, never a raise
    assert decode_gif_pixels(b"")["n_px"] is None
    assert decode_gif_pixels(b"GIF89a\x01")["n_px"] is None
    assert decode_gif_pixels(gif[:30])["n_px"] is None


def test_decode_wav_samples_against_stdlib_wave():
    """decode_wav_samples must agree with a WAV written by the stdlib
    wave module (known-good external reference), handle odd-length
    chunk padding, and reject non-PCM / truncated payloads."""
    import hashlib
    import io
    import struct
    import wave

    import numpy as np

    from semlink.datapipe.multimodal import decode_wav_samples

    rng = np.random.default_rng(11)
    pcm = rng.integers(-32768, 32768, size=777, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(pcm.tobytes())
    got = decode_wav_samples(buf.getvalue())
    assert got["n_samples"] == 777
    assert abs(got["mean"] - float(np.mean(pcm))) < 1e-9
    assert got["digest"] == hashlib.md5(
        pcm.tobytes().hex().encode()).hexdigest()

    # chunk walk: an odd-length LIST chunk before data must be
    # word-aligned-skipped, not desync the parse
    base = buf.getvalue()
    fmt_chunk = base[12:36]           # "fmt " + 16-byte body
    data_chunk = base[36:]
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"   # pad byte
    body = b"WAVE" + fmt_chunk + odd + data_chunk
    wav2 = b"RIFF" + struct.pack("<I", len(body)) + body
    got2 = decode_wav_samples(wav2)
    assert got2["digest"] == got["digest"]

    # non-PCM (format 3 = float) and truncations: null, never raise
    mutable = bytearray(base)
    mutable[20] = 3
    assert decode_wav_samples(bytes(mutable))["n_samples"] is None
    assert decode_wav_samples(base[:40])["n_samples"] is None
    assert decode_wav_samples(b"")["n_samples"] is None


def test_decode_gif_pixels_uncompressed_trick():
    """Second, INDEPENDENT encoding strategy: the classic
    'uncompressed GIF' trick emits a CLEAR before the table can grow,
    so every pixel is a literal code at fixed width — no dictionary at
    all. A decoder bug in CLEAR handling or width bookkeeping that a
    matching encoder/decoder pair could hide shows up here."""
    import hashlib

    import numpy as np

    from semlink.datapipe.multimodal import decode_gif_pixels

    rng = np.random.default_rng(3)
    palette = bytes(rng.integers(0, 256, size=24, dtype=np.uint8))  # 8 colors
    w, h = 11, 6
    idx = rng.integers(0, 8, size=w * h, dtype=np.uint8).tobytes()

    min_code = 3
    clear, eoi = 8, 9
    width = min_code + 1
    # CLEAR, px, CLEAR, px, ..., EOI — table never grows past the
    # reserved codes, so the width never changes
    codes = []
    for px in idx:
        codes += [clear, px]
    codes.append(eoi)
    acc = nacc = 0
    bits_out = bytearray()
    for c in codes:
        acc |= c << nacc
        nacc += width
        while nacc >= 8:
            bits_out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    if nacc:
        bits_out.append(acc & 0xFF)

    import struct
    gif = bytearray(b"GIF89a")
    gif += struct.pack("<HH", w, h) + bytes([0x80 | 2, 0, 0])  # 8-color GCT
    gif += palette
    gif += b"\x2C" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    gif += bytes([min_code])
    data = bytes(bits_out)
    for j in range(0, len(data), 255):
        chunk = data[j:j + 255]
        gif += bytes([len(chunk)]) + chunk
    gif += b"\x00\x3B"

    got = decode_gif_pixels(bytes(gif))
    rgb = b"".join(palette[3 * px:3 * px + 3] for px in idx)
    assert got["n_px"] == w * h
    assert got["px_digest"] == hashlib.md5(rgb.hex().encode()).hexdigest()


def test_repetition_planted_pathologies(spark):
    """Gopher repetition metrics light up on planted pathologies and
    stay near zero on clean prose (VERDICT r04 next #1)."""
    from semlink.datapipe.textstats import with_repetition_stats

    clean = "alpha beta gamma delta\nepsilon zeta eta theta"
    dup_lines = "copy me\ncopy me\ncopy me\nunique line"
    dup_paras = "para one here\n\npara one here\n\npara two"
    ngram_spam = " ".join(["buy now"] * 10)
    d = spark.createDataFrame(
        [(1, clean), (2, dup_lines), (3, dup_paras), (4, ngram_spam),
         (5, None), (6, "")],
        "doc_id long, text string")
    r = {x.doc_id: x for x in with_repetition_stats(d).collect()}

    assert r[1].n_lines == 2 and r[1].dup_line_frac6 == 0
    assert r[1].dup_para_frac6 == 0
    # 3 "copy me" lines -> 2 duplicates of 4 units
    assert r[2].n_lines == 4 and r[2].dup_line_frac6 == 500_000
    # dup char mass: 2 extra "copy me" (7ch) of 3*7 + 11 total chars
    assert r[2].dup_line_char_frac6 == 437_500
    # duplicated paragraph: 1 dup of 3 paras
    assert r[3].n_paras == 3 and r[3].dup_para_frac6 == 333_333
    # "buy now" * 10 -> top bigram "now buy" or "buy now" covers ~half
    assert r[4].top2gram_frac6 >= 480_000
    assert r[4].top4gram_frac6 >= 480_000
    # null == empty: zero units everywhere
    for i in (5, 6):
        assert r[i].n_lines == 0 and r[i].n_paras == 0
        assert r[i].top2gram_frac6 == 0


def test_heuristic_flags_planted_pathologies(spark):
    """C4/Gopher gate battery: a clean doc passes every gate; bullet
    spam, ellipsis spam, symbol spam, short docs and no-stopword docs
    each trip exactly their gate."""
    from semlink.datapipe.textstats import (GOPHER_STOPWORDS,
                                            with_heuristic_flags)

    good_words = ("the quick brown fox jumps over lazy dogs and cats "
                  "that have been with us " ) * 4
    bullets = "\n".join(["- item one of the list"] * 10) + \
        "\nthe rest is " + "fine words here and that have with of " * 6
    ellipsis = "\n".join(["click to read more of the story..."] * 10)
    symbols = ("# " * 40) + "the words that have with of be to and "
    short = "too short to pass the word count gate and that"
    nostop = "lorem ipsum dolor sit amet " * 12
    d = spark.createDataFrame(
        [(1, good_words), (2, bullets), (3, ellipsis), (4, symbols),
         (5, short), (6, nostop)],
        "doc_id long, text string")
    r = {x.doc_id: x for x in with_heuristic_flags(d).collect()}

    assert r[1].pass_all == 1
    # bullet spam: 10 of 11 lines bullet-led = 90.9% > the 90% gate
    assert r[2].pass_bullet == 0
    assert r[2].bullet_line_frac6 == round(10 / 11 * 1e6)
    assert r[3].pass_ellipsis == 0 and r[3].ellipsis_line_frac6 == 1_000_000
    assert r[4].pass_symbol_ratio == 0 and r[4].pass_all == 0
    assert r[5].pass_word_count == 0 and r[5].n_words < 50
    assert r[6].pass_stopwords == 0 and r[6].stop_hits == 0
    assert set(GOPHER_STOPWORDS) & set(good_words.split())


def test_pii_stats_planted(spark):
    """PII detection counts: planted emails / IPv4s / phones are
    counted; clean text and bare version strings are not flagged."""
    from semlink.datapipe.textstats import with_pii_stats

    d = spark.createDataFrame(
        [(1, "mail a.b@c.io and d@e.org now"),
         (2, "hosts 10.0.0.1 192.168.255.254 and 8.8.8.8"),
         (3, "call +31-555-123-4567 or 555 123 4567"),
         (4, "clean prose with no identifiers at all"),
         (5, None),
         (6, "version 1.2.3 is not an ip")],
        "doc_id long, text string")
    r = {x.doc_id: x for x in with_pii_stats(d).collect()}
    assert r[1].email_n == 2 and r[1].has_pii == 1
    assert r[2].ipv4_n == 3 and r[2].has_pii == 1
    assert r[3].phone_n == 2 and r[3].has_pii == 1
    assert r[4].has_pii == 0 and r[5].has_pii == 0
    assert r[6].ipv4_n == 0


def _jpeg_mirror_plane(ch, qt):
    """Independent dequant+IDCT mirror of one channel from the
    encoder's quantized zigzag blocks — exercises the decoder's
    Huffman/bitstream layer end-to-end, since any entropy bug changes
    the coefficients and therefore the digest."""
    import numpy as np

    from semlink.datapipe.jpegenc import ZIGZAG, _quantize_channel, idct2d
    h, w = ch.shape
    bh, bw = (h + 7) // 8, (w + 7) // 8
    qtz = qt[ZIGZAG].astype(np.float64)
    plane = np.zeros((bh * 8, bw * 8))
    for m, zz in enumerate(_quantize_channel(ch.astype(np.float64), qt)):
        by, bx = divmod(m, bw)
        coef = np.zeros(64)
        coef[ZIGZAG] = zz.astype(np.float64) * qtz
        plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
            idct2d(coef.reshape(8, 8)) + 128.0
    return plane[:h, :w]


def test_jpeg_decode_matches_mirror_exactly():
    """Grayscale and color decodes must be BIT-identical to the
    independent dequant+IDCT mirror computed from the encoder's own
    quantized coefficients (Huffman layer round-trips exactly)."""
    import hashlib

    import numpy as np

    from semlink.datapipe.jpegenc import (QT_CHROMA, QT_LUMA,
                                          encode_baseline_jpeg)
    from semlink.datapipe.multimodal import decode_jpeg_pixels

    clip8 = lambda x: np.clip(np.floor(x + 0.5), 0, 255).astype(np.uint8)

    gray = ((np.arange(19 * 27) * 31 + 7) % 256).astype(
        np.uint8).reshape(19, 27)
    got = decode_jpeg_pixels(encode_baseline_jpeg(gray))
    exp = clip8(_jpeg_mirror_plane(gray, QT_LUMA))[:, :, None]
    assert got["n_px"] == 19 * 27
    assert got["px_digest"] == hashlib.md5(
        exp.tobytes().hex().encode()).hexdigest()
    assert got["mean"] == float(np.mean(exp))

    rgb = np.stack([((np.arange(17 * 21) * k + 13 * k) % 256).reshape(17, 21)
                    for k in (3, 5, 7)], axis=-1).astype(np.uint8)
    got = decode_jpeg_pixels(encode_baseline_jpeg(rgb))
    r, g, b = (rgb[:, :, i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    y, cb, cr = (np.clip(np.floor(x + 0.5), 0, 255) for x in (y, cb, cr))
    yd = _jpeg_mirror_plane(y, QT_LUMA)
    cbd = _jpeg_mirror_plane(cb, QT_CHROMA)
    crd = _jpeg_mirror_plane(cr, QT_CHROMA)
    exp = np.stack([clip8(yd + 1.402 * (crd - 128.0)),
                    clip8(yd - 0.344136 * (cbd - 128.0)
                          - 0.714136 * (crd - 128.0)),
                    clip8(yd + 1.772 * (cbd - 128.0))], axis=-1)
    assert got["px_digest"] == hashlib.md5(
        exp.tobytes().hex().encode()).hexdigest()


def test_jpeg_roundtrip_fidelity_and_restarts():
    """Lossy-but-close: flat blocks reconstruct within quantizer step;
    restart-marker streams decode byte-identically to marker-free
    ones (predictor reset + realignment are exercised)."""
    import numpy as np

    from semlink.datapipe.jpegenc import encode_baseline_jpeg
    from semlink.datapipe.multimodal import decode_jpeg_pixels

    flat = np.full((16, 16), 77, np.uint8)
    r = decode_jpeg_pixels(encode_baseline_jpeg(flat))
    assert abs(r["mean"] - 77.0) <= 1.0

    img = ((np.arange(24 * 40) * 7) % 256).astype(np.uint8).reshape(24, 40)
    plain = decode_jpeg_pixels(encode_baseline_jpeg(img))
    with_rst = decode_jpeg_pixels(
        encode_baseline_jpeg(img, restart_interval=3))
    assert plain["px_digest"] == with_rst["px_digest"]
    assert plain["n_px"] == 24 * 40


def test_jpeg_unsupported_and_garbage_gates():
    """Progressive / subsampled / 16-bit-DQT / scanless / truncated
    payloads yield null stats, never exceptions."""
    import numpy as np

    from semlink.datapipe.jpegenc import encode_baseline_jpeg
    from semlink.datapipe.multimodal import decode_jpeg_pixels

    img = np.zeros((8, 8), np.uint8)
    good = encode_baseline_jpeg(img)

    # SOF0 -> SOF2 (progressive)
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert decode_jpeg_pixels(prog)["n_px"] is None
    # 4:2:0 sampling factor on the first component
    i = good.find(b"\xff\xc0")
    sub = good[:i + 11] + b"\x22" + good[i + 12:]
    assert decode_jpeg_pixels(sub)["n_px"] is None
    # 16-bit quant table flag
    j = good.find(b"\xff\xdb")
    q16 = good[:j + 4] + b"\x10" + good[j + 5:]
    assert decode_jpeg_pixels(q16)["n_px"] is None
    # header-only (no SOS), truncation, garbage
    k = good.find(b"\xff\xda")
    assert decode_jpeg_pixels(good[:k] + b"\xff\xd9")["n_px"] is None
    assert decode_jpeg_pixels(good[:k + 10])["n_px"] is None
    assert decode_jpeg_pixels(b"\xff\xd8\x00\x00")["n_px"] is None
    assert decode_jpeg_pixels(b"")["n_px"] is None
    # zero-dimension SOF must not produce n_px=0 with NaN mean
    zi = good.find(b"\xff\xc0")
    zero_h = good[:zi + 5] + b"\x00\x00" + good[zi + 7:]
    assert decode_jpeg_pixels(zero_h)["n_px"] is None
    # non-interleaved multi-scan color (3-comp SOF, 1-comp SOS) must
    # gate to null, not report the luma plane as grayscale stats
    import numpy as np2
    rgb = np2.zeros((8, 8, 3), np2.uint8)
    col = encode_baseline_jpeg(rgb)
    si = col.find(b"\xff\xda")
    sos1 = b"\xff\xda" + b"\x00\x08" + b"\x01" + b"\x01\x00" + b"\x00\x3f\x00"
    multi = col[:si] + sos1 + col[si + 14:]
    assert decode_jpeg_pixels(multi)["n_px"] is None


def test_jpeg_golden_fixtures_rederive():
    """The pinned media_jpeg golden table must equal a fresh decode of
    the fixture generator output — a stale golden_jpeg.json fails here
    before it can mislead the driver gate."""
    import json
    import os

    from semlink.datapipe.multimodal import (decode_jpeg_pixels,
                                             synthesize_jpeg_fixtures)

    p = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "semlink", "datapipe",
        "golden_jpeg.json")
    golden = {tuple(r[:1])[0]: r[1:] for r in json.load(open(p))}
    fx = synthesize_jpeg_fixtures(60)
    assert len(fx) == len(golden) == 60
    for mid, payload, w, h, ch in fx:
        r = decode_jpeg_pixels(payload)
        n, m6, dig = golden[mid]
        assert r["n_px"] == n == w * h
        assert round(r["mean"] * 1e6) == m6
        assert r["px_digest"] == dig


def test_corpus_filter_composed_verdict(spark):
    """The curation verdict composes both families: a clean doc is
    kept; failing EITHER the heuristic battery (no stopwords) OR a
    repetition gate (duplicate paragraphs / n-gram spam) drops it."""
    from semlink.datapipe.textstats import corpus_filter

    # varied prose (no repeats — a x3 repeat trips the top-4-gram
    # mass gate at the published 0.16 bound, correctly)
    good = ("the quick brown fox jumps over lazy dogs and cats "
            "that have been with us for many seasons now while "
            "winter storms gather along northern coastal ridges "
            "where fishing boats return to harbor before dusk "
            "and merchants count their wares beside olive groves "
            "as travelers from distant villages trade salted fish "
            "for woven cloth under lantern light near the old mill")
    nostop = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 8
    dup_paras = ("the first paragraph is here with that and have\n\n" * 5
                 + good)
    spam = "buy now " * 60 + " the and that have with"
    d = spark.createDataFrame(
        [(1, good), (2, nostop), (3, dup_paras), (4, spam)],
        "doc_id long, text string")
    r = {x.doc_id: x for x in corpus_filter(d).collect()}
    assert r[1].keep == 1
    assert r[2].pass_heuristics == 0 and r[2].keep == 0
    assert r[3].pass_repetition == 0 and r[3].keep == 0
    assert r[4].pass_repetition == 0 and r[4].keep == 0


def _setsim_brute(df, t_num, t_den):
    import itertools
    from semlink.datapipe.dedup import shingles_exploded
    sets = {}
    for r in shingles_exploded(df).distinct().collect():
        sets.setdefault(r.doc_id, set()).add(r.s)
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        o = len(sets[a] & sets[b])
        u = len(sets[a] | sets[b])
        if u and o * t_den >= t_num * u:
            want[(a, b)] = (o, round(o / u * 1e6))
    return want


def test_setsim_join_exact_vs_brute_force(spark):
    """The prefix-filtered join returns EXACTLY the brute-force
    threshold-Jaccard pair set (no false negatives from the prefix /
    length / positional filters, no false positives from the verify)
    across three thresholds, including exact dups, empty/null docs
    and sub-shingle-length docs."""
    from semlink.datapipe.dedup import setsim_join_pairs
    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different text with other tokens here"),
            (4, "completely different text with other tokens now"),
            (5, ""), (6, None), (7, "short doc"), (8, "short doc"),
            (9, "alpha beta gamma delta epsilon zeta eta theta"),
            (10, "alpha beta gamma delta epsilon zeta eta iota"),
            (11, "one two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for tn, td in [(1, 2), (4, 5), (9, 10)]:
        got = {(r.left_id, r.right_id): (r.overlap, r.jaccard6)
               for r in setsim_join_pairs(df, t_num=tn, t_den=td).collect()}
        assert got == _setsim_brute(df, tn, td), f"t={tn}/{td}"


def test_setsim_join_finds_planted_twins_corpus(spark):
    """On the documents corpus the exact join at t=0.8 is a superset
    check against LSH: every LSH-candidate pair whose verified
    Jaccard clears 0.8 must be in the setsim output (LSH can only
    miss pairs, never the exact join)."""
    from semlink.datapipe import dedup as dd
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").filter("doc_id < 400"))
    exact = {(r.left_id, r.right_id)
             for r in dd.setsim_join_pairs(docs, t_num=4, t_den=5).collect()}
    sigs = dd.minhash_signatures(docs)
    lsh = dd.lsh_candidate_pairs(dd.lsh_buckets(sigs))
    verified = dd.ngram_jaccard(docs, lsh).filter("jaccard >= 0.8")
    lsh_pairs = {(r.left_id, r.right_id) for r in verified.collect()}
    assert lsh_pairs <= exact


def test_containment_dedup_planted(spark):
    """Token-level containment on planted cases: prefix / middle /
    suffix runs are found, the mid-token character substring is NOT
    (the ``"at the house" ⊂ "cat the house"`` trap the token-boundary
    instr guards against), identical texts collapse to one
    representative before pairing, sub-shingle docs are ineligible on
    the contained side, and null text follows the ''==null
    convention."""
    from semlink.datapipe.dedup import containment_dedup
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "beta gamma delta epsilon"),        # middle run of 0
        (2, "alpha beta gamma"),                # prefix run of 0
        (3, "eta theta iota kappa"),            # suffix run of 0
        (4, "at the house"),                    # char-substring trap:
        (5, "cat the house and garden shed"),   #   NOT contained in 5
        (6, "beta gamma delta epsilon"),        # identical to 1
        (7, "zeta eta"),                        # 2 tokens: ineligible
        (8, None), (9, ""),                     # null == empty, skipped
        (10, "  beta   gamma  delta epsilon "),  # ws-normalizes to 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.contained_id: (r.container_id, r.n_containers)
           for r in containment_dedup(df).collect()}
    # 1 is the representative of {1, 6, 10}; contained only in 0.
    assert got == {1: (0, 1), 2: (0, 1), 3: (0, 1)}


def test_containment_dedup_matches_brute_force(spark):
    """The rarest-shingle blocked plan reproduces the naive all-pairs
    answer exactly on a corpus slice plus planted snippet docs (the
    query entry's derivation)."""
    from pyspark.sql import functions as F
    from semlink.datapipe.dedup import _tokens, containment_dedup
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").filter("doc_id < 300"))
    base = docs.select(
        "doc_id",
        _tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks"))
    snip = (base.filter((F.col("doc_id") % 9 == 0) & (F.size("toks") >= 12))
            .select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.concat_ws(" ", F.slice("toks", 4, 8)).alias("text")))
    corpus = (base.select("doc_id", F.concat_ws(" ", "toks").alias("text"))
              .unionByName(snip))
    got = {r.contained_id: (r.container_id, r.n_containers)
           for r in containment_dedup(corpus).collect()}
    # brute force on the driver
    rows = [(r.doc_id, r.text) for r in corpus.collect()]
    reps = {}
    for i, t in sorted(rows):
        reps.setdefault(" ".join(t.split()), i)
    want = {}
    for na, a in ((n, i) for n, i in reps.items() if len(n.split()) >= 3):
        ctrs = [b for nb, b in reps.items()
                if nb != na and (" " + na + " ") in (" " + nb + " ")]
        if ctrs:
            want[a] = (min(ctrs), len(ctrs))
    assert got == want and len(want) > 0


def test_lm_nll_matches_python_mirror(spark):
    """with_lm_nll reproduces an independent driver-side add-one
    bigram model bit-exactly (same per-term quantization), the
    boilerplate doc made of corpus-frequent transitions scores LOWER
    avg NLL than the one made of unique tokens, and <2-token / null
    docs are excluded."""
    import math
    from collections import Counter
    from semlink.datapipe.lm import with_lm_nll
    rows = [(0, "the cat sat on the mat"),
            (1, "the cat sat on the mat again"),
            (2, "the cat sat on the mat the cat sat on the mat"),
            (3, "zeboric quv xalth wumpet drazzle"),
            (4, "single"), (5, ""), (6, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.nll6_sum, r.nll6_avg)
           for r in with_lm_nll(df).collect()}
    toks = {i: (t or "").split() for i, t in rows}
    bgs = {i: list(zip(ts, ts[1:])) for i, ts in toks.items()}
    c2 = Counter(b for bs in bgs.values() for b in bs)
    c1 = Counter(b[0] for bs in bgs.values() for b in bs)
    v = len({w for ts in toks.values() for w in ts})
    want = {}
    for i, bs in bgs.items():
        if not bs:
            continue
        terms = [round(-math.log((c2[b] + 1) / (c1[b[0]] + v)) * 1_000_000)
                 for b in bs]
        want[i] = (len(terms), sum(terms), sum(terms) // len(terms))
    assert got == want
    assert set(got) == {0, 1, 2, 3}
    assert got[2][2] < got[3][2]  # fluent/repetitive < gibberish


def test_token_budget_sample_greedy_cut(spark):
    """Per-stratum admission follows the md5(id) pseudo-order, stops
    at the first doc that starts at or past the budget (overshoot at
    most one doc), strata are independent, and null text counts 0
    tokens yet is admissible while budget remains."""
    import hashlib
    from semlink.datapipe.sampling import token_budget_sample
    rows = [(i, "a", "tok " * 4) for i in range(10)]          # 4 each
    rows += [(100 + i, "b", "x y z") for i in range(3)]       # 3 each
    rows += [(200, "c", None), (201, "c", "one two three four five")]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = token_budget_sample(df, "lang", 10, text_col="text").collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r.lang, []).append(
            (r.doc_id, r.tok_count, r.cum_tokens))
    # mirror the greedy cut on the driver
    def order(ids):
        return sorted(ids, key=lambda i: (
            hashlib.md5(str(i).encode()).hexdigest(), i))
    a_ids = order(range(10))
    want_a, cum = [], 0
    for i in a_ids:
        if cum >= 10:
            break
        cum += 4
        want_a.append((i, 4, cum))
    assert by_lang["a"] == sorted(by_lang["a"], key=lambda t: t[2])
    assert sorted(by_lang["a"]) == sorted(want_a)
    assert len(by_lang["a"]) == 3                # 4+4 < 10, +4 overshoots
    assert len(by_lang["b"]) == 3                # 3+3+3 never reaches 10
    assert {i for i, _, _ in by_lang["c"]} == {200, 201}


def test_decode_gif_frames_animated_roundtrip():
    """Multi-frame decode pinned against the INDEPENDENT real-LZW
    reference encoder (the package fixtures use the uncompressed
    trick, so the two pins don't share an encoding strategy): an
    animation is spliced from per-frame _encode_gif sections, and
    every frame's pixels must round-trip; a malformed tail loses only
    the tail."""
    import numpy as np

    from semlink.datapipe.multimodal import decode_gif_frames

    w, h = 9, 5
    palette = bytes(bytearray(v for j in range(16)
                              for v in (j * 16, 255 - j * 16, j)))
    rng = np.random.RandomState(7)
    frames = [rng.randint(0, 16, size=w * h).astype(np.uint8).tobytes()
              for _ in range(4)]
    encs = [_encode_gif(fx, w, h, palette) for fx in frames]
    # header + global color table span up to the first image descriptor
    head_len = encs[0].index(b"\x2c")
    anim = bytearray(encs[0][:head_len])
    for e in encs:
        anim += e[e.index(b"\x2c"):-1]      # image section, keep \x00
    anim += b"\x3b"
    got = decode_gif_frames(bytes(anim))
    assert len(got) == 4
    pal = np.frombuffer(palette, np.uint8).reshape(-1, 3)
    import hashlib
    for f, idx in zip(got, frames):
        rgb = pal[np.frombuffer(idx, np.uint8)].tobytes()
        assert f["n_px"] == w * h
        assert f["px_digest"] == hashlib.md5(rgb.hex().encode()).hexdigest()
    # truncated tail: frames decoded so far survive
    cut = bytes(anim[: head_len + 2 * (len(encs[0]) - head_len - 1) + 5])
    part = decode_gif_frames(cut)
    assert 1 <= len(part) <= 3
    assert part[0]["px_digest"] == got[0]["px_digest"]


def test_video_frame_golden_rederive():
    """The pinned media_video_frames golden table must equal a fresh
    multi-frame decode of the animation fixtures at every_k=2 — a
    stale golden_frames.json fails here before it can mislead the
    driver gate."""
    import json
    import os

    from semlink.datapipe.multimodal import (decode_gif_frames,
                                             synthesize_animation_fixtures)

    p = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "semlink", "datapipe",
        "golden_frames.json")
    golden = {(r[0], r[1]): r[2:] for r in json.load(open(p))}
    fx = synthesize_animation_fixtures(40)
    fresh = {}
    for mid, payload, nf, w, h in fx:
        fr = decode_gif_frames(payload)
        assert len(fr) == nf
        for f in fr:
            if f["frame_idx"] % 2 == 0:
                fresh[(mid, f["frame_idx"])] = [
                    len(fr), f["n_px"], round(f["mean"] * 1e6),
                    f["px_digest"]]
    assert fresh == golden and len(golden) == 70


def test_extract_frame_stats_sampling(spark):
    """every_k / max_frames semantics through the Arrow path: a
    6-frame clip sampled at every_k=2 yields frames 0/2/4 with
    n_frames=6; max_frames=2 truncates; non-GIF payloads emit no
    rows."""
    from semlink.datapipe.multimodal import (extract_frame_stats,
                                             synthesize_animation_fixtures)
    fx = [(mid, bytearray(p)) for mid, p, nf, _w, _h
          in synthesize_animation_fixtures(40) if nf == 6][:1]
    assert fx, "need a 6-frame fixture"
    fx.append(("junk", bytearray(b"not a gif")))
    media = spark.createDataFrame(fx, "media_id string, payload binary")
    got = extract_frame_stats(media, every_k=2).collect()
    assert sorted(r.frame_idx for r in got) == [0, 2, 4]
    assert all(r.n_frames == 6 for r in got)
    assert {r.media_id for r in got} == {fx[0][0]}
    capped = extract_frame_stats(media, every_k=1, max_frames=2).collect()
    assert sorted(r.frame_idx for r in capped) == [0, 1]


def test_novelty_planted(spark):
    """Boilerplate shared between docs scores 0 novelty, unique prose
    scores 1, a half-shared doc lands in between, and the twin empty
    docs share the '' shingle (family null=='' convention)."""
    from semlink.datapipe.textstats import with_novelty
    boiler = "all rights reserved contact us terms of service"
    rows = [(0, boiler), (1, boiler),
            (2, "completely unique prose about distributed shuffles"),
            (3, boiler + " plus a unique trailing clause here"),
            (4, ""), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_shingles, r.n_novel, r.novelty6)
           for r in with_novelty(df).collect()}
    assert got[0][2] == 0 and got[1][2] == 0           # pure boilerplate
    assert got[2][1] == got[2][0] and got[2][2] == 1_000_000
    assert 0 < got[3][2] < 1_000_000                   # mixed doc
    assert got[4] == (1, 0, 0) and got[5] == (1, 0, 0)  # shared ''


def test_ahash_invariances_and_golden_rederive(spark):
    """aHash invariances hold by construction — the PNG, the lossless
    GIF re-encode and the non-clipping brightness shift of one pattern
    hash identically, unrelated patterns don't collide — and the
    pinned media_ahash_dedup golden table equals a fresh hash of the
    fixtures (stale golden_ahash.json fails here first)."""
    import json
    import os

    from semlink.datapipe.multimodal import (decode_image_ahash,
                                             synthesize_phash_fixtures)

    fx = synthesize_phash_fixtures(12)
    hs = {mid: decode_image_ahash(p) for mid, p, _g in fx}
    assert all(a is not None for a in hs.values())

    def ham(x, y):
        return bin(int(x, 16) ^ int(y, 16)).count("1")

    for g in range(12):
        assert hs[f"ph{g}_png"] == hs[f"ph{g}_gif"] == hs[f"ph{g}_bright"]
        # the tweak is a NEAR dup: different hash, within the banded
        # radius media_ahash_near_pairs guarantees recall for
        d = ham(hs[f"ph{g}_png"], hs[f"ph{g}_tweak"])
        assert 0 < d <= 15, (g, d)
    assert len({hs[f"ph{g}_png"] for g in range(12)}) == 12
    # cross-group distances stay far outside the near radius
    for g1 in range(12):
        for g2 in range(g1 + 1, 12):
            assert ham(hs[f"ph{g1}_png"], hs[f"ph{g2}_png"]) > 15
    # golden re-derive
    from collections import defaultdict
    grp = defaultdict(list)
    for mid, a in hs.items():
        grp[a].append(mid)
    fresh = {mid: [hs[mid], min(grp[hs[mid]]), len(grp[hs[mid]])]
             for mid, _p, _g in fx}
    p = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "semlink", "datapipe",
        "golden_ahash.json")
    golden = {r[0]: r[1:] for r in json.load(open(p))}
    assert fresh == golden and len(golden) == 60


def test_ahash_geometry_edges():
    """Sub-8x8 and degenerate images still hash (floor-partitioned
    cells clamp), garbage returns None."""
    import numpy as np
    from semlink.datapipe.multimodal import ahash64, decode_image_ahash
    tiny = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    assert ahash64(tiny) is not None and len(ahash64(tiny)) == 16
    one = np.zeros((1, 1, 3), dtype=np.uint8)
    assert ahash64(one) == "0" * 16          # constant image: no bit set
    assert decode_image_ahash(b"not an image") is None
    assert decode_image_ahash(b"") is None


def test_cluster_stability_engineered_fission(spark):
    """A loose cluster glued by a weak chain must fission at the
    strict threshold: docs 0~1 share a long run (strict edge), doc 2
    shares only a short prefix (loose-only edges), doc 3 is isolated
    — so the loose cluster {0,1,2} reports n_strict=2 / overmerge,
    and doc 3 appears nowhere."""
    import tempfile

    from pyspark.sql import functions as F

    from semlink.cluster import run_connected_components
    from semlink.config import SemlinkConfig
    from semlink.datapipe import dedup as dd

    common = " ".join(f"w{i}" for i in range(24))
    rows = [(0, common + " zero tail"),
            (1, common + " one other end"),
            (2, " ".join(f"w{i}" for i in range(8)) + " x y z q r s t u"),
            (3, "totally unrelated text with its own tokens here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dd.shingles_exploded(df).distinct()
    sims = (sh.selectExpr("doc_id as id_l", "s")
            .join(sh.selectExpr("doc_id as id_r", "s"), "s")
            .filter("id_l < id_r").groupBy("id_l", "id_r")
            .agg(F.count(F.lit(1)).alias("sim")))
    ident = lambda c: F.concat(F.lit("d"), F.col(c).cast("string"))

    def cc(thr):
        e = (sims.filter(F.col("sim") >= thr)
             .select(ident("id_l").alias("src"), ident("id_r").alias("dst")))
        return run_connected_components(
            e, SemlinkConfig(),
            ckpt_dir=tempfile.mkdtemp(prefix="semlink_stab_t_"))

    loose = {r.mention_id: r.cluster_id for r in cc(4).collect()}
    strict = {r.mention_id: r.cluster_id for r in cc(20).collect()}
    assert set(loose) == {"d0", "d1", "d2"}
    assert len(set(loose.values())) == 1
    assert set(strict) == {"d0", "d1"}
    sub = {strict.get(d, d) for d in loose}
    assert len(sub) == 2  # {0,1} + the 2-singleton: the fission report


def test_weighted_jaccard_bag_semantics(spark):
    """Multiset Jaccard distinguishes repeated mass where set Jaccard
    cannot: a doc repeating the shared phrase 5x scores higher
    weighted overlap against its spam twin than the once-each pair,
    and the hand-computed Σmin/Σmax rationals match exactly."""
    from pyspark.sql import functions as F
    from semlink.datapipe.dedup import shingle_set, weighted_jaccard
    phrase = "lorem ipsum dolor sit"
    rows = [(0, phrase), (1, phrase),
            (2, " ".join([phrase] * 5)), (3, " ".join([phrase] * 5)),
            (4, "totally disjoint shingle content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # (0, 4) is a zero-overlap candidate (an LSH band-hash collision
    # shape): it must SURVIVE with wmin=0, not vanish (review r5s3)
    pairs = spark.createDataFrame([(0, 1), (2, 3), (0, 2), (0, 4)],
                                  "left_id long, right_id long")
    got = {(r.left_id, r.right_id): (r.wmin, r.w_l, r.w_r, r.wjac6)
           for r in weighted_jaccard(df, pairs).collect()}
    # doc0: shingles of 4 tokens = 2 windows; doc2: 20 tokens = 18
    assert got[(0, 1)] == (2, 2, 2, 1_000_000)
    assert got[(2, 3)] == (18, 18, 18, 1_000_000)
    wmin, w_l, w_r, wj = got[(0, 2)]
    assert (w_l, w_r) == (2, 18)
    assert wmin == 2 and wj == round(2 / 18 * 1e6)
    assert got[(0, 4)] == (0, 2, 3, 0)   # zero-overlap pair kept
    # set Jaccard would call (0,2) much more similar: distinct sets
    s0 = set(df.select(shingle_set(F.col("text")).alias("x"))
             .collect()[0].x)
    s2 = set(df.select(shingle_set(F.col("text")).alias("x"))
             .collect()[2].x)
    set_j = len(s0 & s2) / len(s0 | s2)
    assert wj / 1e6 < set_j  # bag semantics penalizes the spam mass


def test_corpus_report_rollup(spark):
    """Per-(lang, source) report card: exact duplicate docs counted
    corpus-wide (the twin pair lands in dup_docs for ITS group only),
    token sums and integer dup rates exact, mean quality in range."""
    from pyspark.sql import functions as F
    from semlink.datapipe import textstats as ts
    rows = [(0, "the quick brown fox jumps", "en", "s1"),
            (1, "the quick brown fox jumps", "en", "s1"),   # twin of 0
            (2, "one two three", "en", "s2"),
            (3, "uno dos tres cuatro", "es", "s1")]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    q = (ts.with_quality_score(d)
         .withColumn("q6", F.round(F.col("quality_score") * 1_000_000)
                     .cast("bigint")))
    h = F.md5(F.coalesce(F.col("text"), F.lit("")))
    dup = d.groupBy(h.alias("h")).agg(F.count(F.lit(1)).alias("c"))
    rep = {(r.lang, r.source): r for r in
           (q.withColumn("h", h).join(dup, "h")
            .groupBy("lang", "source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("ws_tokens").cast("bigint").alias("tokens"),
                 F.expr("CAST(sum(q6) AS BIGINT) div count(*)")
                 .alias("mean_q6"),
                 F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
                 .cast("bigint").alias("dup_docs"),
                 F.expr("CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)"
                        " AS BIGINT) * 1000000 div count(*)")
                 .alias("dup_rate6"))).collect()}
    en1 = rep[("en", "s1")]
    assert (en1.n_docs, en1.tokens, en1.dup_docs, en1.dup_rate6) == \
        (2, 10, 2, 1_000_000)
    assert rep[("en", "s2")].dup_docs == 0
    assert rep[("es", "s1")].n_docs == 1
    assert all(0 <= r.mean_q6 <= 1_000_000 for r in rep.values())


def test_dedup_verdict_reason_priority(spark):
    """The composed verdict applies reasons in priority order on an
    engineered corpus: an exact copy is 'exact_dup' even though its
    text is also contained elsewhere; a contained rep that is also a
    strict near-dup reports 'contained'; group keepers keep."""
    from semlink.queries import REGISTRY
    import duckdb
    # drive the REGISTRY entry end-to-end on a tiny planted documents
    # table through both engines (the sf-shaped corpus derivation
    # needs doc_id % 9 / % 13 hits, so feed ids that trigger each)
    long_txt = " ".join(f"t{i}" for i in range(30))
    rows = [(0, long_txt, "en", "s", 1),          # %9==0: spawns snippet
            (13, " ".join(f"u{i}" for i in range(25)), "en", "s", 1),
            (26, " ".join(f"u{i}" for i in range(25)) + " tail x y",
             "en", "s", 1)]                        # near-dup of 13
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    import tempfile
    d = tempfile.mkdtemp(prefix="semlink_verdict_fix_")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r.doc_id: (r.reason, r.keep)
           for r in REGISTRY["dedup_verdict"][0](spark, d).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{d}/documents.parquet/*.parquet'")
    want = {r[0]: (r[1], r[2])
            for r in con.execute(REGISTRY["dedup_verdict"][1]).fetchall()}
    assert got == want
    assert got[1000000] == ("contained", False)   # snippet of doc 0
    assert got[2000013][0] == "exact_dup"         # copy of doc 13
    assert got[2000026][0] == "exact_dup"
    # 13's text is a prefix run of 26's: contained — and priority
    # means 'contained' wins even though 13 is ALSO the min of the
    # strict near-dup cluster {13, 26}
    assert got[13] == ("contained", False)
    assert got[26] == ("near_dup", False)         # cluster non-min
    assert got[0] == ("keep", True)


def test_lang_mix_planted(spark):
    """A half-English half-Spanish doc flags mixed with the right two
    languages; monolingual docs don't; stopword-free gibberish is
    (und, und)."""
    from semlink.datapipe.textstats import lang_mix
    en = "the and is of to in that it was for on are with as"
    es = "el la los las de y es un una en que para por con no se al"
    rows = [(0, en), (1, es), (2, en + " " + es),
            (3, "zzz qqq xxx vvv kkk")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.lang1, r.lang2, r.is_mixed)
           for r in lang_mix(df).collect()}
    assert got[0][0] == "en" and not got[0][2]
    assert got[1][0] == "es" and not got[1][2]
    assert {got[2][0], got[2][1]} == {"en", "es"} and got[2][2]
    assert got[3] == ("und", "und", False)
    # margin region: both languages above the floor, runner-up under
    # 30% of the top — related-language bleed, NOT mixed (and the
    # oracle applies the same margin — review r5s3 found it missing)
    mdoc = spark.createDataFrame(
        [(9, "the and is of to in that it was for el")],
        "doc_id long, text string")
    r = lang_mix(mdoc).collect()[0]
    assert r.lang1 == "en" and r.lang2 == "es" and not r.is_mixed
