"""Round-10 operator tests: the `reliable` materialization knob on
quantile_blocks (r9 VERDICT #3) and the stdlib-zlib PNG codec
(r9 VERDICT #4)."""

import glob
import os
import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F


def _ranked(df, reliable):
    from supplier_performance_data_pipeline_spark.operators.ranking import (
        blocked_row_number,
        quantile_blocks,
    )

    return blocked_row_number(
        quantile_blocks(df, "v", desc=True, num_blocks=16, reliable=reliable),
        [F.desc("v"), F.asc("id")],
    )


def test_quantile_blocks_reliable_knob_result_invariant(spark):
    """r9 VERDICT #3: localCheckpoint truncates lineage onto
    executor-local blocks (fast, but an executor lost after truncation
    is unrecoverable-by-lineage on a real cluster); reliable=True
    persists DISK_ONLY with lineage kept. The knob trades fault
    tolerance for speed ONLY — the cuts job and CASE tree are
    identical, so the global rank must be byte-identical across modes
    and match the exact sort."""
    rows = [(i, float((i * 53) % 89)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {}
    for reliable in (False, True):
        ranked = _ranked(df, reliable)
        got[reliable] = sorted(
            (r["id"], r["rn"]) for r in ranked.select("id", "rn").collect()
        )
    assert got[False] == got[True]
    expect = sorted(
        (i, rank + 1)
        for rank, (i, _) in enumerate(
            sorted(rows, key=lambda t: (-t[1], t[0]))
        )
    )
    assert got[True] == expect


def test_quantile_blocks_reliable_keeps_lineage(spark):
    """reliable=True must NOT truncate lineage: the persisted frame's
    logical plan still reaches the source (recompute-on-executor-loss
    is the entire point), while reliable=False's localCheckpoint plan
    is a LogicalRDD scan with the upstream gone."""
    from supplier_performance_data_pipeline_spark.operators.ranking import (
        quantile_blocks,
    )

    df = spark.range(300).select(
        F.col("id"), (F.col("id") % 41).cast("double").alias("v")
    )
    durable = quantile_blocks(df, "v", reliable=True)
    fast = quantile_blocks(df, "v", reliable=False)
    durable_plan = durable._jdf.queryExecution().analyzed().toString()
    fast_plan = fast._jdf.queryExecution().analyzed().toString()
    assert "Range" in durable_plan, "persist must keep the source in-plan"
    assert "Range" not in fast_plan and "LogicalRDD" in fast_plan, (
        "localCheckpoint should have truncated lineage to a LogicalRDD"
    )


# --- PNG codec (stdlib zlib; r9 VERDICT #4) ---------------------------------


def _codec():
    from supplier_performance_data_pipeline_spark.operators import multimodal

    return multimodal


def test_png_roundtrip_exercises_all_five_filters():
    """encode_png filters scanline r with type r % 5, so any image with
    h >= 5 round-trips through None/Sub/Up/Average/Paeth — a broken
    unfilter path cannot hide behind filter-0-only streams."""
    m = _codec()
    rng = np.random.RandomState(7)
    for h, w in [(1, 1), (5, 1), (8, 16), (17, 16), (23, 7)]:
        a = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        p = m.encode_png(a)
        assert p[:8] == b"\x89PNG\r\n\x1a\n"
        assert (m.decode_png(p) == a).all()
        assert (m.decode_rgb(p, m.PNG_MIME) == a).all()
    # the encoder really did emit every filter type
    a = rng.randint(0, 256, (5, 4, 3), dtype=np.uint8)
    raw = zlib.decompress(_idat(m.encode_png(a)))
    assert [raw[r * 13] for r in range(5)] == [0, 1, 2, 3, 4]


def _idat(payload: bytes) -> bytes:
    pos, out = 8, bytearray()
    while pos < len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        if ctype == b"IDAT":
            out += payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
    return bytes(out)


def test_png_multi_idat_split_at_any_byte():
    """The IDAT stream may be split across chunks at ANY byte boundary;
    the decoder must concatenate before inflating."""
    m = _codec()
    a = np.random.RandomState(3).randint(0, 256, (9, 5, 3), dtype=np.uint8)
    whole = m.encode_png(a)
    stream = _idat(whole)
    sig_ihdr = whole[: 8 + 25]  # signature + IHDR chunk (13 + 12 bytes)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    for cut in (1, 2, len(stream) // 2, len(stream) - 1):
        split = (
            sig_ihdr
            + chunk(b"IDAT", stream[:cut])
            + chunk(b"IDAT", stream[cut:])
            + chunk(b"IEND", b"")
        )
        assert (m.decode_png(split) == a).all(), f"cut at {cut}"


def test_png_crc_corruption_fails_loudly():
    m = _codec()
    p = bytearray(
        m.encode_png(
            np.random.RandomState(1).randint(0, 256, (6, 4, 3), dtype=np.uint8)
        )
    )
    p[len(p) // 2] ^= 0xFF  # somewhere inside IDAT data
    with pytest.raises(ValueError, match="CRC"):
        m.decode_png(bytes(p))


def test_png_unsupported_shapes_raise_honestly():
    """Every LEGAL depth/color/interlace combination now decodes for
    real (the r10 trap list drained: palette+graya r11, 16-bit+Adam7+
    sub-byte r12) — what must still raise, loudly and never by
    silently shearing pixels, is the spec-ILLEGAL space: bad
    depth-for-color combos, unknown color types, unknown interlace
    methods, and a corrupt signature."""
    m = _codec()

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    illegal = [
        (16, 3, 0),  # 16-bit palette: PLTE entries are 8-bit
        (2, 2, 0),  # sub-byte truecolor
        (4, 6, 0),  # sub-byte RGBA
        (1, 4, 0),  # sub-byte gray+alpha
        (8, 5, 0),  # color type 5 does not exist
        (8, 2, 2),  # interlace method 2 does not exist
    ]
    for depth, color, interlace in illegal:
        ihdr = struct.pack(">IIBBBBB", 4, 4, depth, color, 0, 0, interlace)
        with pytest.raises(ValueError):
            m.decode_png(sig + chunk(b"IHDR", ihdr))
    with pytest.raises(ValueError, match="signature"):
        m.decode_png(b"NOPE" + b"\x00" * 16)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def test_png_rgba_unfilters_at_bpp4_and_drops_alpha():
    """Color type 6 must unfilter at bpp=4 (an Up-filtered RGBA row
    reconstructed at bpp=3 would shear every channel) and then drop
    the alpha plane — lossless for RGB because PNG alpha is not
    premultiplied. The fixture is hand-built so the expected pixels
    are computable without our encoder."""
    m = _codec()
    w, h = 5, 4
    raw = np.arange(w * h * 4, dtype=np.uint8).reshape(h, w * 4)
    stream, recon = bytearray(), np.zeros((h, w * 4), dtype=np.int64)
    for r in range(h):
        if r == 0:
            stream.append(0)
            stream += raw[r].tobytes()
            recon[r] = raw[r]
        else:
            stream.append(2)  # Up
            filt = (raw[r].astype(np.int64) - recon[r - 1]) % 256
            stream += filt.astype(np.uint8).tobytes()
            recon[r] = (filt + recon[r - 1]) % 256
    pl = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(bytes(stream)))
        + _chunk(b"IEND", b"")
    )
    got = m.decode_png(pl)
    assert (got == raw.reshape(h, w, 4)[:, :, :3]).all()


def test_png_grayscale_replicates_to_rgb():
    m = _codec()
    g = np.array([[7, 9], [250, 3]], dtype=np.uint8)
    stream = bytearray()
    for r in range(2):
        stream.append(0)
        stream += g[r].tobytes()
    pl = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(bytes(stream)))
        + _chunk(b"IEND", b"")
    )
    got = m.decode_png(pl)
    assert (got == np.repeat(g[:, :, None], 3, axis=2)).all()


def test_png_decodes_real_rgba_and_grayscale_files():
    """Independent-encoder coverage of color types 0 and 6: decode
    libpng-produced system files (adaptive filters at bpp 1 and 4),
    re-encode the RGB projection with our type-2 encoder, re-decode —
    must be pixel-stable. Skips where the host has no fixtures."""
    m = _codec()
    found = {0: None, 6: None}
    for p in sorted(glob.glob("/usr/share/doc/**/*.png", recursive=True)):
        try:
            b = open(p, "rb").read()
        except OSError:
            continue
        if len(b) > 33 and b[:8] == b"\x89PNG\r\n\x1a\n":
            w, h, d, c, _, _, i = struct.unpack(">IIBBBBB", b[16:29])
            if d == 8 and i == 0 and c in found and found[c] is None \
                    and w * h <= 200_000:
                found[c] = b
        if all(found.values()):
            break
    checked = 0
    for c, b in found.items():
        if b is None:
            continue
        a = m.decode_png(b)
        assert a.ndim == 3 and a.shape[2] == 3 and a.size > 0
        assert (m.decode_png(m.encode_png(a)) == a).all()
        checked += 1
    if not checked:
        pytest.skip("no 8-bit type-0/6 PNG fixtures on this host")


def test_png_decodes_real_libpng_output():
    """Independent-encoder check: decode a truecolor PNG produced by
    libpng (adaptive per-row filter selection — not our encoder's
    cycle), then re-encode with ours and re-decode; pixels must agree.
    Skips if the host ships no suitable fixture."""
    m = _codec()
    fixture = None
    for p in sorted(glob.glob("/usr/share/doc/**/*.png", recursive=True)):
        try:
            b = open(p, "rb").read()
        except OSError:
            continue
        if len(b) > 33 and b[:8] == b"\x89PNG\r\n\x1a\n":
            w, h, d, c, _, _, i = struct.unpack(">IIBBBBB", b[16:29])
            if (d, c, i) == (8, 2, 0) and w * h <= 400_000:
                fixture = (p, b)
                break
    if fixture is None:
        pytest.skip("no 8-bit truecolor non-interlaced PNG on this host")
    path, b = fixture
    a = m.decode_png(b)
    assert a.ndim == 3 and a.shape[2] == 3 and a.size > 0
    assert (m.decode_png(m.encode_png(a)) == a).all()


def test_image_pixel_checksums_position_weighted(spark):
    """px_wsum must distinguish permutations the plain sum forgives:
    a vertically flipped image keeps px_sum but changes px_wsum."""
    import pandas as pd

    m = _codec()
    a = np.random.RandomState(5).randint(0, 256, (7, 4, 3), dtype=np.uint8)
    rows = pd.DataFrame(
        {
            "media_id": [1, 2],
            "payload": [m.encode_png(a), m.encode_png(a[::-1].copy())],
            "mime": m.PNG_MIME,
            "width": 4,
            "height": 7,
        }
    )
    media = spark.createDataFrame(
        rows, schema="media_id long, payload binary, mime string, "
        "width int, height int"
    )
    got = {
        r["media_id"]: r
        for r in m.image_pixel_checksums(media).collect()
    }
    assert got[1]["px_sum"] == got[2]["px_sum"]
    assert got[1]["px_wsum"] != got[2]["px_wsum"]
    flat = a.reshape(-1).astype(np.int64)
    assert got[1]["px_sum"] == int(flat.sum())
    assert got[1]["px_wsum"] == int(
        ((np.arange(flat.size) + 1) * flat).sum()
    )


# --- incremental connected components (r9 VERDICT #5) ------------------------


def _full_cc(spark, edges):
    from supplier_performance_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }


def _incr_cc(spark, old_edges, new_edges):
    from supplier_performance_data_pipeline_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    old = connected_components(
        spark.createDataFrame(old_edges, "doc_a long, doc_b long")
    )
    stats = {}
    out = incremental_components(
        old,
        spark.createDataFrame(new_edges, "doc_a long, doc_b long"),
        stats_out=stats,
    )
    return {r["id"]: r["component"] for r in out.collect()}, stats


def test_incremental_components_equals_full_recompute(spark):
    """Two-batch replay on a graph with every interesting shape: a
    batch doc joining an old cluster mid-member (not at the root), a
    pure-new cluster, an old-old merge edge (re-crawl linking two
    existing components), and a previously-ISOLATED old doc (no stored
    row) picked up by a new pair."""
    old_edges = [(1, 2), (2, 3), (10, 11), (20, 21)]  # comps {1,2,3} {10,11} {20,21}
    new_edges = [
        (3, 50),    # batch doc 50 attaches via member 3 (not root 1)
        (60, 61),   # pure-new cluster
        (11, 21),   # old-old merge: {10,11} ∪ {20,21}
        (70, 99),   # 99 was isolated old (no stored row), 70 is new
    ]
    got, stats = _incr_cc(spark, old_edges, new_edges)
    want = _full_cc(spark, old_edges + new_edges)
    assert got == want
    assert stats["converged"] and stats["contracted_edges"] >= 1


def test_incremental_components_random_replays_match(spark):
    """Randomized replays: split a random edge set into old/new at
    several cut points; the incremental result must equal the full
    recompute at every split (seeded, so failures reproduce)."""
    import random

    rnd = random.Random(1234)
    edges = [
        (rnd.randrange(40), rnd.randrange(40)) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    full = _full_cc(spark, edges)
    for cut in (1, len(edges) // 3, len(edges) // 2, len(edges) - 2):
        got, _ = _incr_cc(spark, edges[:cut], edges[cut:])
        assert got == full, f"cut {cut}"


def test_incremental_components_untouched_pass_through(spark):
    """A batch that touches nothing must leave stored labels unchanged
    and converge on a contracted graph whose size is the BATCH's, not
    the corpus's — the term-isolation contract."""
    old_edges = [(i, i + 1) for i in range(0, 100, 2)]  # 50 settled pairs
    new_edges = [(1000, 1001)]
    got, stats = _incr_cc(spark, old_edges, new_edges)
    full = _full_cc(spark, old_edges + new_edges)
    assert got == full
    assert stats["contracted_edges"] == 1
    assert stats["contracted_verts"] == 2
