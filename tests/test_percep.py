"""Round-12 tests: perceptual fingerprints (image dHash, audio
sign-delta), the banded exact-Hamming matcher, label propagation, and
the mixed-merge rollup behind the streaming substring scrub."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hdfs_stream_processing_spark.operators.dedup import banded_hamming_pairs
from hdfs_stream_processing_spark.operators.graph import label_propagation
from hdfs_stream_processing_spark.operators.incremental import rollup_merge
from hdfs_stream_processing_spark.operators.llmdata import (
    scrub_spans,
    scrub_with_keepers,
    token_shingles,
)
from hdfs_stream_processing_spark.operators.multimodal import (
    audio_fingerprint,
    dhash_bands,
    decode_image,
    encode_bmp,
    encode_wav,
    decode_audio,
    resample_audio,
    resize_image,
)


# ── fixtures: the same block textures the percep queries stage ──────────


def _tex_image(n: int) -> np.ndarray:
    w, h = 96 + (n % 7) * 8, 64 + (n % 5) * 8
    x, y = np.arange(w), np.arange(h)
    xx, yy = np.meshgrid(x, y)
    u, v = (xx * 16) // w, (yy * 16) // h
    r = (u * (73 + 11 * n) + v * (149 + 7 * n) + u * v * (37 + 3 * n) + n * 101) % 251
    g = (u * (97 + 13 * n) + v * (59 + 5 * n) + u * v * (41 + 9 * n) + n * 67) % 251
    b = (u * (113 + 17 * n) + v * (31 + 19 * n) + u * v * (29 + 23 * n) + n * 139) % 251
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def _block_wave(n: int) -> np.ndarray:
    length = 6000 + (n % 17) * 192
    i = np.arange(length, dtype=np.int64)
    u = (i * 120) // length
    return (((u * (37 + 5 * n) + u * u * (11 + 3 * n) + n * 71) % 401) - 200).astype(
        np.int16
    )


def _ref_dhash_bits(img: np.ndarray, grid: int = 16) -> np.ndarray:
    lum = (
        299 * img[:, :, 0].astype(np.int64)
        + 587 * img[:, :, 1].astype(np.int64)
        + 114 * img[:, :, 2].astype(np.int64)
    ) // 1000
    h, w = lum.shape
    xs = (np.arange(grid + 1) * w) // (grid + 1)
    ys = (np.arange(grid) * h) // grid
    g = lum[np.ix_(ys, xs)]
    return (g[:, 1:] > g[:, :-1]).astype(np.int64).ravel()


def _decoded_imgs(spark, ns):
    rows = [(f"src{n}", bytearray(encode_bmp(_tex_image(n)))) for n in ns]
    df = spark.createDataFrame(rows, "source string, payload binary")
    return decode_image(df, id_col="source", payload_col="payload", id_type="string")


def _decoded_waves(spark, ns):
    rows = [(f"src{n}", bytearray(encode_wav(_block_wave(n), 8000))) for n in ns]
    df = spark.createDataFrame(rows, "source string, payload binary")
    return decode_audio(df, id_col="source", payload_col="payload", id_type="string")


# ── dhash_bands ─────────────────────────────────────────────────────────


def test_dhash_bands_matches_reference_bits(spark):
    got = {
        r["source"]: tuple(r[f"b{j}"] for j in range(8))
        for r in dhash_bands(
            _decoded_imgs(spark, range(4)), id_col="source", id_type="string"
        ).collect()
    }
    for n in range(4):
        bits = _ref_dhash_bits(_tex_image(n))
        want = tuple(
            int((bits[j * 32 : (j + 1) * 32] << np.arange(32)).sum())
            for j in range(8)
        )
        assert got[f"src{n}"] == want


def test_dhash_bands_validates():
    with pytest.raises(ValueError, match="divide"):
        dhash_bands(None, grid=8, n_bands=5)
    with pytest.raises(ValueError, match="grid"):
        dhash_bands(None, grid=1)


def test_audio_fingerprint_default_is_128_bits():
    # the r13 scale parameterization: 128 bits in 8 x 16-bit bands
    import inspect

    sig = inspect.signature(audio_fingerprint)
    assert sig.parameters["fp_samples"].default == 129
    assert sig.parameters["n_bands"].default == 8
    dsig = inspect.signature(dhash_bands)
    assert dsig.parameters["grid"].default == 16
    assert dsig.parameters["n_bands"].default == 8


def test_audio_fingerprint_validates():
    with pytest.raises(ValueError, match="divide"):
        audio_fingerprint(None, fp_samples=57, n_bands=5)
    with pytest.raises(ValueError, match="fp_samples"):
        audio_fingerprint(None, fp_samples=2)


# ── banded_hamming_pairs: pigeonhole recall is EXACT ────────────────────


def test_banded_hamming_equals_brute_force(spark):
    rng = np.random.default_rng(12)
    fps = rng.integers(0, 1 << 16, size=(30, 4))
    # plant a couple of near pairs
    fps[10] = fps[3] ^ np.array([1, 2, 0, 0])  # hamming 2
    fps[20] = fps[7]  # hamming 0
    df = spark.createDataFrame(
        [(f"id{i:02d}", *[int(v) for v in row]) for i, row in enumerate(fps)],
        "id string, b0 int, b1 int, b2 int, b3 int",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in banded_hamming_pairs(
            df, "id", ["b0", "b1", "b2", "b3"], band_bits=16,
            max_hamming=13, probe_bits=4, allow_narrow_probes=True,
        ).collect()
    }
    want = {}
    for i in range(30):
        for j in range(i + 1, 30):
            d = sum(int(bin(int(a) ^ int(b)).count("1")) for a, b in zip(fps[i], fps[j]))
            if d <= 13:
                want[(f"id{i:02d}", f"id{j:02d}")] = d
    assert got == want
    assert got[("id03", "id10")] == 2
    assert got[("id07", "id20")] == 0


def test_banded_hamming_validates():
    with pytest.raises(ValueError, match="pigeonhole|guarantee"):
        banded_hamming_pairs(None, "id", ["b0"], band_bits=16, max_hamming=13,
                             allow_narrow_probes=True, probe_bits=4)
    with pytest.raises(ValueError, match="divide"):
        banded_hamming_pairs(None, "id", ["b0"], band_bits=14, max_hamming=2,
                             probe_bits=4, allow_narrow_probes=True)
    with pytest.raises(ValueError, match="band column"):
        banded_hamming_pairs(None, "id", [], band_bits=16, max_hamming=2)


def test_banded_hamming_rejects_narrow_probes_without_opt_in():
    """The r13 scale guard (VERDICT r12 #1): a probe narrower than 8
    bits has at most 256 distinct values, so the candidate equi-join
    degenerates to all-pairs at corpus scale — rejected unless the
    caller opts in for a known-small corpus."""
    with pytest.raises(ValueError, match="probe values|all-pairs"):
        banded_hamming_pairs(
            None, "id", ["b0", "b1", "b2", "b3"], band_bits=16,
            max_hamming=13, probe_bits=4,
        )


# ── planted-re-encode recall on the percep fixtures ─────────────────────


def test_image_near_dup_recall_on_planted_reencodes(spark):
    ns = range(8)
    decoded = _decoded_imgs(spark, ns)
    variants = resize_image(
        decoded, out_w=128, out_h=96, id_col="source", id_type="string"
    ).withColumn("source", F.concat(F.col("source"), F.lit("_r")))
    fp = dhash_bands(
        decoded.unionByName(variants), id_col="source", id_type="string"
    )
    pairs = banded_hamming_pairs(
        fp, "source", [f"b{j}" for j in range(8)], band_bits=32,
        max_hamming=15, probe_bits=16,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(f"src{n}", f"src{n}_r") for n in ns}


def test_audio_near_dup_recall_on_planted_resamples(spark):
    ns = range(8)
    decoded = _decoded_waves(spark, ns)
    variants = resample_audio(
        decoded, out_len=12007, id_col="source", id_type="string"
    ).withColumn("source", F.concat(F.col("source"), F.lit("_r")))
    fp = audio_fingerprint(
        decoded.unionByName(variants), fp_samples=129, n_bands=8,
        id_col="source", id_type="string",
    )
    pairs = banded_hamming_pairs(
        fp, "source", [f"b{j}" for j in range(8)], band_bits=16,
        max_hamming=7, probe_bits=16,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(f"src{n}", f"src{n}_r") for n in ns}
    # the planted pairs are NEAR, not exact: at least one has hamming > 0
    assert any(r["hamming"] > 0 for r in pairs)


# ── label propagation ───────────────────────────────────────────────────


def test_label_propagation_two_cliques(spark):
    # two triangles {a,b,c} and {x,y,z} joined by one bridge edge c-x
    und = [
        ("a", "b"), ("b", "c"), ("a", "c"),
        ("x", "y"), ("y", "z"), ("x", "z"),
        ("c", "x"),
    ]
    edges = spark.createDataFrame(
        und + [(d, s) for s, d in und], "src string, dst string"
    )
    got = {
        r["node"]: r["community"]
        for r in label_propagation(edges, n_iters=3).collect()
    }
    # triangle members converge to the min label of their clique
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["y"] == got["z"]
    with pytest.raises(ValueError, match="n_iters"):
        label_propagation(edges, n_iters=0)


def test_label_propagation_deterministic_tie_break(spark):
    # node m has one neighbor in each camp: tie broken to the SMALLER label
    und = [("m", "a"), ("m", "b")]
    edges = spark.createDataFrame(
        und + [(d, s) for s, d in und], "src string, dst string"
    )
    got = {
        r["node"]: r["community"]
        for r in label_propagation(edges, n_iters=1).collect()
    }
    assert got["m"] == "a"


# ── mixed-merge rollup + shared scrub tail ──────────────────────────────


def test_rollup_merge_mixed_min_max_sum(spark):
    existing = spark.createDataFrame(
        [("k1", 2, 10, 5), ("k2", 1, 7, 7)], "k string, n long, lo long, hi long"
    )
    batch = spark.createDataFrame(
        [("k1", 3, 4, 9), ("k3", 1, 1, 1)], "k string, n long, lo long, hi long"
    )
    got = {
        r["k"]: (r["n"], r["lo"], r["hi"])
        for r in rollup_merge(
            existing, batch, ["k"], {"n": "sum", "lo": "min", "hi": "max"}
        ).collect()
    }
    assert got == {"k1": (5, 4, 9), "k2": (1, 7, 7), "k3": (1, 1, 1)}
    with pytest.raises(ValueError, match="merge fns"):
        rollup_merge(existing, batch, ["k"], {"n": "avg"})


def test_scrub_with_keepers_equals_scrub_spans(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "x a b c d e f g h i j y"),
            (3, "p q r s t u v w a a"),
        ],
        "doc_id bigint, text string",
    )
    k = 8
    sh = token_shingles(docs, "doc_id", "text", k=k)
    dup = (
        sh.groupBy("_sh")
        .agg(
            F.count_distinct("doc_id").alias("_nd"),
            F.min(
                F.struct(F.col("doc_id").alias("d"), F.col("_off").alias("o"))
            ).alias("_keep"),
        )
        .where(F.col("_nd") >= 2)
        .select("_sh", "_keep")
    )
    via_keepers = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in scrub_with_keepers(docs, "doc_id", "text", k, dup).collect()
    }
    direct = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in scrub_spans(docs, "doc_id", "text", k=k, min_docs=2).collect()
    }
    assert via_keepers == direct
    # doc 1 is the keeper (smallest (doc, off)); doc 2 loses the shared run
    assert direct[1][1] == 0
    assert direct[2][1] > 0


def test_rollup_apply_batch_mixed_replay_guard(spark, tmp_path):
    from hdfs_stream_processing_spark.sources.io import read_table_version
    from hdfs_stream_processing_spark.streaming.pipeline import rollup_apply_batch

    tdir = str(tmp_path / "rollup")
    spec = {"nd": "sum", "keepkey": "min"}
    b0 = spark.createDataFrame(
        [("w1", 1, 100), ("w2", 2, 205)], "k string, nd long, keepkey long"
    )
    b1 = spark.createDataFrame(
        [("w1", 2, 50)], "k string, nd long, keepkey long"
    )
    assert rollup_apply_batch(b0, tdir, ["k"], spec, batch_id=0)
    assert rollup_apply_batch(b1, tdir, ["k"], spec, batch_id=1)
    # replay of batch 1 must be skipped, not re-merged
    assert not rollup_apply_batch(b1, tdir, ["k"], spec, batch_id=1)
    got = {
        r["k"]: (r["nd"], r["keepkey"])
        for r in read_table_version(spark, tdir).collect()
    }
    assert got == {"w1": (3, 50), "w2": (2, 205)}


def test_stream_communities_maintained_edges_equal_one_shot(spark, tmp_path):
    """r13 (VERDICT r12 #5): LPA read off a replay-guarded maintained
    edge table equals LPA over the edges directly — and a replayed
    micro-batch is skipped, not re-merged."""
    from hdfs_stream_processing_spark.sources.io import read_table_version
    from hdfs_stream_processing_spark.streaming.pipeline import rollup_apply_batch

    und = [
        ("a", "b"), ("b", "c"), ("a", "c"),
        ("x", "y"), ("y", "z"), ("x", "z"),
    ]
    tdir = str(tmp_path / "edges")
    b0 = spark.createDataFrame(und[:3], "s string, d string").withColumn(
        "one", F.lit(1).cast("long")
    )
    b1 = spark.createDataFrame(und[3:], "s string, d string").withColumn(
        "one", F.lit(1).cast("long")
    )
    assert rollup_apply_batch(b0, tdir, ["s", "d"], ["one"], batch_id=0)
    assert rollup_apply_batch(b1, tdir, ["s", "d"], ["one"], batch_id=1)
    assert not rollup_apply_batch(b1, tdir, ["s", "d"], ["one"], batch_id=1)
    pairs = read_table_version(spark, tdir).select("s", "d")
    edges = pairs.unionByName(
        pairs.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    direct = spark.createDataFrame(
        und + [(d, s) for s, d in und], "src string, dst string"
    )
    got = {
        r["node"]: r["community"]
        for r in label_propagation(edges, "s", "d", n_iters=2).collect()
    }
    want = {
        r["node"]: r["community"]
        for r in label_propagation(direct, n_iters=2).collect()
    }
    assert got == want and got["a"] == got["b"] == got["c"]


def test_image_near_dup_finds_bmp_png_twins(spark):
    """r13 (VERDICT r12 #3): a 128×96 re-encode saved as compressed
    PNG must pair with its BMP original through the full production
    path — magic-byte dispatch decode → 256-bit dHash → 16-bit-probe
    banded match — even though every payload byte (and the container
    format itself) differs."""
    from hdfs_stream_processing_spark.operators.multimodal import encode_png

    ns = range(6)
    rows = []
    for n in ns:
        arr = _tex_image(n)
        h, w = arr.shape[:2]
        xs = (np.arange(128) * w) // 128
        ys = (np.arange(96) * h) // 96
        rows.append((f"src{n}", bytearray(encode_bmp(arr))))
        rows.append((f"src{n}_r", bytearray(encode_png(arr[np.ix_(ys, xs)]))))
    df = spark.createDataFrame(rows, "source string, payload binary")
    fp = dhash_bands(
        decode_image(df, id_col="source", payload_col="payload", id_type="string"),
        id_col="source", id_type="string",
    )
    pairs = banded_hamming_pairs(
        fp, "source", [f"b{j}" for j in range(8)], band_bits=32,
        max_hamming=15, probe_bits=16,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {
        (f"src{n}", f"src{n}_r") for n in ns
    }


def test_rollup_mixed_struct_min_keeper_survives_wide_offsets(spark, tmp_path):
    """r13 (VERDICT r12 #4): the streaming scrub keeper is merged as an
    UNENCODED struct(d, o) min.  With the old doc_id*1e6 + offset
    encoding, doc 1 at offset 1,500,000 would encode to 2,500,000 and
    LOSE to doc 2 at offset 0 (2,000,000) — the struct min must pick
    (1, 1500000), proving no offset-width invariant is load-bearing."""
    from hdfs_stream_processing_spark.sources.io import read_table_version
    from hdfs_stream_processing_spark.streaming.pipeline import rollup_apply_batch

    tdir = str(tmp_path / "keepers")
    spec = {"nd": "sum", "_keep": "min"}
    schema = "k string, nd long, _keep struct<d: bigint, o: int>"
    b0 = spark.createDataFrame([("w1", 1, (2, 0))], schema)
    b1 = spark.createDataFrame([("w1", 1, (1, 1_500_000))], schema)
    assert rollup_apply_batch(b0, tdir, ["k"], spec, batch_id=0)
    assert rollup_apply_batch(b1, tdir, ["k"], spec, batch_id=1)
    rows = read_table_version(spark, tdir).collect()
    assert len(rows) == 1
    assert rows[0]["nd"] == 2
    assert (rows[0]["_keep"]["d"], rows[0]["_keep"]["o"]) == (1, 1_500_000)


def test_dedup_keep_transitive_chain(spark):
    """A ~ B ~ C with A !~ C must still cluster {A, B, C} and keep only
    A — the pairs → components → representatives chain, not a
    pair-local keep rule (and exactly what the recursive-closure oracle
    computes)."""
    from hdfs_stream_processing_spark.operators.graph import (
        cluster_representatives,
        connected_components,
    )

    # fingerprints: B flips bits 0-9 of A; C flips bits 0-19 of A
    # → hamming(A,B)=10, hamming(B,C)=10, hamming(A,C)=20 > t=13
    a = [0, 0, 0, 0]
    b = [(1 << 10) - 1, 0, 0, 0]          # bits 0..9
    c = [0xFFFF, (1 << 4) - 1, 0, 0]      # bits 0..19
    d = [0x5A5A, 0x5A5A, 0x5A5A, 0x5A5A]  # 32 bits from A, >= 14 from B/C
    df = spark.createDataFrame(
        [("A", *a), ("B", *b), ("C", *c), ("D", *d)],
        "sid string, b0 int, b1 int, b2 int, b3 int",
    )
    pairs = banded_hamming_pairs(
        df, "sid", ["b0", "b1", "b2", "b3"], band_bits=16,
        max_hamming=13, probe_bits=4, allow_narrow_probes=True,
    )
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got_pairs == {("A", "B"), ("B", "C")}
    comps = connected_components(pairs, "id_a", "id_b")
    kept = {r["sid"] for r in cluster_representatives(df, comps, "sid").collect()}
    assert kept == {"A", "D"}


# ── r14: baseline JPEG codec + lossy-re-encode twin ─────────────────────


def test_jpeg_roundtrip_error_bounded():
    """Smooth-content encode→decode stays within a small error bound at
    both subsamplings — evidence the encoder/decoder pair really is
    DCT-quantize-IDCT (complementary bugs on both sides would show as
    large error vs the ORIGINAL, which neither side ever sees)."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    x = np.arange(40)[None, :]
    y = np.arange(24)[:, None]
    arr = np.stack(
        [(x * 3 + y * 2) % 200 + 20, (x * 2 + y * 5) % 180 + 30,
         (x + y) % 160 + 40],
        axis=2,
    ).astype(np.uint8)
    for sub, bound in (("444", 40), ("420", 110)):
        out = decode_jpeg(encode_jpeg(arr, quality=90, subsampling=sub))
        assert out.shape == arr.shape and out.dtype == np.uint8
        assert np.abs(out.astype(int) - arr.astype(int)).max() <= bound, sub


def test_jpeg_restart_markers_change_nothing():
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=(33, 41, 3), dtype=np.uint8)
    plain = decode_jpeg(encode_jpeg(arr, quality=80, subsampling="420"))
    rst = decode_jpeg(
        encode_jpeg(arr, quality=80, subsampling="420", restart_interval=2)
    )
    assert (plain == rst).all()


def test_jpeg_grayscale_dc_fixture_is_bit_exact():
    """The image_decode_jpeg fixture contract: 8×8-aligned constant
    EVEN tiles at quality 50 (DC step 16) round-trip exactly through
    the full entropy/DCT pipeline."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_jpeg,
        decode_payload,
        encode_jpeg,
    )

    rng = np.random.default_rng(5)
    g = np.repeat(
        np.repeat(rng.choice(np.arange(0, 256, 2), size=(3, 4)), 8, 0), 8, 1
    ).astype(np.uint8)
    arr = np.stack([g, g, g], axis=2)
    out = decode_jpeg(encode_jpeg(arr, quality=50, grayscale=True))
    assert (out == arr).all()
    # and through the dispatch
    assert (decode_payload(encode_jpeg(arr, quality=50, grayscale=True)) == arr).all()


def test_jpeg_rejects_malformed():
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    arr = (np.arange(16 * 16 * 3) % 256).reshape(16, 16, 3).astype(np.uint8)
    good = encode_jpeg(arr)
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"nope")
    with pytest.raises(ValueError, match="before scan"):
        decode_jpeg(b"\xff\xd8\xff\xd9")
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg(good[:40])
    with pytest.raises(ValueError, match="truncated|marker inside"):
        decode_jpeg(good[:-24])
    # arithmetic coding (SOF9) is rejected explicitly, not mis-parsed
    # (progressive SOF2 DECODES as of the r14 second wave)
    i = good.index(b"\xff\xc0")
    arith = good[:i] + b"\xff\xc9" + good[i + 2:]
    with pytest.raises(ValueError, match="arithmetic|progressive"):
        decode_jpeg(arith)


def test_png_rejects_deflate_bomb():
    """ADVICE r13: a crafted IDAT must not inflate past the
    IHDR-declared scanline length (h·(1+3w)), let alone OOM."""
    import struct
    import zlib

    from hdfs_stream_processing_spark.operators.multimodal import (
        _PNG_SIG,
        decode_png,
        encode_png,
    )

    def chunk(tag, data):
        crc = zlib.crc32(tag + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", crc)

    # 2×2 image whose IDAT inflates to ~10 MB of zeros (a bomb)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bomb = _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(
        b"IDAT", zlib.compress(b"\x00" * 10_000_000)
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="exceeds declared"):
        decode_png(bomb)
    # the legitimate path still round-trips
    arr = (np.arange(5 * 4 * 3) % 256).reshape(5, 4, 3).astype(np.uint8)
    from hdfs_stream_processing_spark.operators.multimodal import decode_png as dp
    assert (dp(encode_png(arr)) == arr).all()


def test_hamming_candidates_validates_probe_width():
    """ADVICE r13: a probe width that does not divide band_bits would
    silently leave the top band bits unprobed."""
    from hdfs_stream_processing_spark.operators.dedup import hamming_candidates

    with pytest.raises(ValueError, match="divide"):
        hamming_candidates(None, "id", ["b0"], band_bits=14, probe_bits=4)
    with pytest.raises(ValueError, match="band column"):
        hamming_candidates(None, "id", [], band_bits=16, probe_bits=8)


def test_photo_fixture_margins_under_lossy_reencode():
    """The image_dedup_jpeg contract, measured: over 200 sources the
    box-pooled dHash moves ≤ 5 bits under a baseline-JPEG 4:2:0 q85
    re-encode (radius 15 with room), while distinct sources differ by
    ≥ 60 bits — so the matcher must return exactly the twin pairs."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )
    from hdfs_stream_processing_spark.queries_percep import _synth_photo_image

    def box_bits(arr, grid=16):
        lum = (
            299 * arr[:, :, 0].astype(np.int64)
            + 587 * arr[:, :, 1] + 114 * arr[:, :, 2]
        ) // 1000
        h, w = lum.shape
        xs = (np.arange(grid + 2) * w) // (grid + 1)
        ys = (np.arange(grid + 1) * h) // grid
        cs = np.zeros((h + 1, w + 1), dtype=np.int64)
        cs[1:, 1:] = lum.cumsum(0).cumsum(1)
        y0, y1 = ys[:-1], ys[1:]
        x0, x1 = xs[:-1], xs[1:]
        tot = (cs[np.ix_(y1, x1)] - cs[np.ix_(y0, x1)]
               - cs[np.ix_(y1, x0)] + cs[np.ix_(y0, x0)])
        m = tot // ((y1 - y0)[:, None] * (x1 - x0)[None, :])
        return (m[:, 1:] > m[:, :-1]).astype(np.int64).ravel()

    bits, same = [], []
    for n in range(200):
        arr = _synth_photo_image(n)
        ob = box_bits(arr)
        bits.append(ob)
        dec = decode_jpeg(encode_jpeg(arr, quality=85, subsampling="420"))
        same.append(int(np.sum(ob != box_bits(dec))))
    assert max(same) <= 5, max(same)
    B = np.array(bits)
    cross_min = min(
        int(np.sum(B[i] != B[i + 1:], axis=1).min()) for i in range(199)
    )
    assert cross_min >= 60, cross_min


def test_dedup_jpeg_pairs_on_sample(spark):
    """End-to-end: mixed BMP + lossy-JPEG corpus through the production
    decode → box dHash → banded matcher returns exactly one pair per
    source (original ↔ JPEG twin)."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_image,
        dhash_bands,
        encode_bmp,
        encode_jpeg,
    )
    from hdfs_stream_processing_spark.queries_percep import _synth_photo_image

    rows = []
    for n in range(8):
        arr = _synth_photo_image(n)
        rows.append((f"src{n}", bytearray(encode_bmp(arr))))
        rows.append(
            (f"src{n}_j",
             bytearray(encode_jpeg(arr, quality=85, subsampling="420")))
        )
    df = spark.createDataFrame(rows, "source string, payload binary")
    fp = dhash_bands(
        decode_image(df, id_col="source", payload_col="payload",
                     id_type="string"),
        id_col="source", id_type="string", pool="box",
    )
    pairs = banded_hamming_pairs(
        fp, "source", [f"b{j}" for j in range(8)], band_bits=32,
        max_hamming=15, probe_bits=16,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {
        (f"src{n}", f"src{n}_j") for n in range(8)
    }


def test_banded_hamming_combinatorial_probes_equal_brute_force(spark):
    """r14 (VERDICT r13 #4): probe_blocks=2 — C(P,2) concatenated
    32-bit... here 8-bit probe keys — must return the identical pair
    set as single-block probing and as brute force, at the reduced
    guaranteed radius P−2.  Same fixture shape as the single-block
    equivalence test: banding is a plan choice, never an answer
    choice."""
    rng = np.random.default_rng(21)
    fps = rng.integers(0, 1 << 16, size=(30, 4))
    fps[11] = fps[2] ^ np.array([3, 1, 0, 4])   # hamming 4
    fps[25] = fps[9]                            # hamming 0
    df = spark.createDataFrame(
        [(f"id{i:02d}", *[int(v) for v in row]) for i, row in enumerate(fps)],
        "id string, b0 int, b1 int, b2 int, b3 int",
    )
    # P = 16 blocks of 4 bits; probe_blocks=2 -> guaranteed radius 14
    kw = dict(band_bits=16, max_hamming=14, probe_bits=4,
              allow_narrow_probes=True)
    single = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in banded_hamming_pairs(
            df, "id", ["b0", "b1", "b2", "b3"], **kw).collect()
    }
    combo = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in banded_hamming_pairs(
            df, "id", ["b0", "b1", "b2", "b3"], probe_blocks=2, **kw
        ).collect()
    }
    want = {}
    for i in range(30):
        for j in range(i + 1, 30):
            d = sum(int(bin(int(a) ^ int(b)).count("1"))
                    for a, b in zip(fps[i], fps[j]))
            if d <= 14:
                want[(f"id{i:02d}", f"id{j:02d}")] = d
    assert combo == want == single
    assert combo[("id02", "id11")] == 4


def test_banded_hamming_combinatorial_validates():
    with pytest.raises(ValueError, match="probe_blocks"):
        banded_hamming_pairs(None, "id", ["b0"], band_bits=16,
                             max_hamming=2, probe_blocks=3)
    # P=16, probe_blocks=2 -> radius 14; asking 15 must be rejected
    with pytest.raises(ValueError, match="taken 2 at a time"):
        banded_hamming_pairs(None, "id", [f"b{j}" for j in range(8)],
                             band_bits=32, max_hamming=15, probe_bits=16,
                             probe_blocks=2)


# ── r14: GIF codec (palette + LZW, third compression family) ────────────


def test_gif_roundtrip_exact_including_interlace():
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_gif,
        decode_payload,
        encode_gif,
    )

    rng = np.random.default_rng(4)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 256, size=(37, 53))]  # odd dims, full table
    for il in (False, True):
        out = decode_gif(encode_gif(img, interlace=il))
        assert (out == img).all(), f"interlace={il}"
    assert (decode_payload(encode_gif(img)) == img).all()


def test_gif_lzw_table_wrap_on_large_noise():
    """A 150×200 256-color noise frame forces the LZW string table to
    4096 and through the encoder's Clear-and-rebuild path."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 256, size=(150, 200))]
    assert (decode_gif(encode_gif(img)) == img).all()


def test_gif_animated_decodes_first_frame():
    """Corpus-ingest contract: an animated GIF yields its FIRST frame.
    Built by splicing a second image block before the trailer."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(8)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    a = pal[rng.integers(0, 16, size=(10, 12))]
    b_img = pal[rng.integers(0, 16, size=(10, 12))]
    ga, gb = encode_gif(a), encode_gif(b_img)
    # ga minus trailer + gb's image block (descriptor..sub-block end) + trailer
    ib = gb.index(b"\x2c", 13)
    spliced = ga[:-1] + gb[ib:]
    assert (decode_gif(spliced) == a).all()


def test_gif_rejects_malformed():
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(2)
    pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 8, size=(9, 9))]
    good = encode_gif(img)
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"nope")
    with pytest.raises(ValueError, match="256 distinct"):
        x = np.arange(600, dtype=np.int64)
        many = np.stack(
            [np.tile(x % 256, (2, 1)), np.tile((x // 256) * 100, (2, 1)),
             np.tile((x * 13) % 256, (2, 1))], axis=2
        ).astype(np.uint8)
        encode_gif(many)  # 600 distinct (r, g, b) triples
    with pytest.raises(ValueError, match="truncated"):
        decode_gif(good[:20])
    with pytest.raises(ValueError, match="truncated|ended before"):
        decode_gif(good[:-6])
    # pixel overrun: corrupt the height field downward
    import struct as _s
    bad = bytearray(good)
    bad[8:10] = _s.pack("<H", 4)   # logical screen height (harmless)
    w, = _s.unpack_from("<H", good, 6)
    ib = good.index(b"\x2c", 13)
    bad2 = bytearray(good)
    bad2[ib + 7 : ib + 9] = _s.pack("<H", 3)  # frame height shrunk
    with pytest.raises(ValueError, match="overrun|corrupt|truncated"):
        decode_gif(bytes(bad2))


# ── r14: IMA ADPCM codec (lossy audio, 4-bit adaptive delta) ────────────


def test_adpcm_block_constant_is_bit_exact():
    """The audio_decode_adpcm fixture contract: waves constant within
    each 17-sample block (block_align=12) round-trip exactly — the
    header carries sample 0 verbatim and zero deltas keep step 7."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_wav,
        encode_adpcm_wav,
    )

    vals = np.array([-32768, 32767, -200, 0, 17000], dtype=np.int64)
    wave = np.repeat(vals, 17).astype(np.int16)[:80]  # partial tail block
    rate, ch, out = decode_wav(encode_adpcm_wav(wave, 8000, block_align=12))
    assert (rate, ch) == (8000, 1)
    assert len(out) == 80 and (out == wave).all()


def test_adpcm_lossy_error_bounded_on_general_waves():
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_wav,
        encode_adpcm_wav,
    )

    rng = np.random.default_rng(9)
    wave = rng.integers(-3000, 3000, size=5000).astype(np.int16)
    _, _, out = decode_wav(encode_adpcm_wav(wave, 8000))
    assert len(out) == len(wave)
    # 4-bit adaptive delta on white noise: bounded, nonzero error
    err = np.abs(out.astype(int) - wave.astype(int))
    assert 0 < err.max() < 6000


def test_adpcm_rejects_malformed():
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_wav,
        encode_adpcm_wav,
    )

    wave = np.repeat(np.arange(5) * 100, 17).astype(np.int16)
    good = encode_adpcm_wav(wave, 8000, block_align=12)
    with pytest.raises(ValueError):
        encode_adpcm_wav(np.array([], dtype=np.int16))
    with pytest.raises(ValueError, match="block_align"):
        encode_adpcm_wav(wave, 8000, block_align=4)
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(good[:-5])
    # mono-only: patch channels to 2 in the fmt chunk
    bad = bytearray(good)
    import struct as _s
    fpos = good.index(b"fmt ") + 8
    bad[fpos + 2 : fpos + 4] = _s.pack("<H", 2)
    with pytest.raises(ValueError, match="mono"):
        decode_wav(bytes(bad))


def test_margin_wave_fixture_survives_adpcm():
    """The audio_dedup_adpcm contract, measured: box-pooled fingerprint
    bits move 0 under an ADPCM re-encode across 200 sources; distinct
    sources differ by ≥ 30 bits (radius 7 with 4× headroom)."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_wav,
        encode_adpcm_wav,
    )
    from hdfs_stream_processing_spark.queries_percep import _synth_margin_wave

    def box_bits(s, fp_samples=129):
        n = len(s)
        s = s.astype(np.int64)
        edges = (np.arange(fp_samples + 1) * n) // fp_samples
        cs = np.zeros(n + 1, dtype=np.int64)
        cs[1:] = np.cumsum(s)
        w = np.maximum(edges[1:] - edges[:-1], 1)
        r = (cs[edges[1:]] - cs[edges[:-1]]) // w
        return (r[1:] > r[:-1]).astype(np.int64)

    bits, same = [], []
    for n in range(200):
        wave = _synth_margin_wave(n)
        ob = box_bits(wave)
        bits.append(ob)
        _, _, out = decode_wav(encode_adpcm_wav(wave, 8000))
        same.append(int(np.sum(ob != box_bits(out))))
    assert max(same) == 0, max(same)
    B = np.array(bits)
    cross_min = min(
        int(np.sum(B[i] != B[i + 1:], axis=1).min()) for i in range(199)
    )
    assert cross_min >= 30, cross_min


def test_audio_fingerprint_box_pool_validates_and_differs(spark):
    from hdfs_stream_processing_spark.operators.multimodal import (
        audio_fingerprint,
    )

    with pytest.raises(ValueError, match="pool"):
        audio_fingerprint(None, pool="median")
    decoded = _decoded_waves(spark, range(2))
    point = audio_fingerprint(
        decoded, id_col="source", id_type="string").collect()
    box = audio_fingerprint(
        decoded, id_col="source", id_type="string", pool="box").collect()
    # both produce 8 bands; on the blocky fixture at least one band differs
    assert len(point) == len(box) == 2
    p0 = {r["source"]: tuple(r[f"b{j}"] for j in range(8)) for r in point}
    b0 = {r["source"]: tuple(r[f"b{j}"] for j in range(8)) for r in box}
    assert set(p0) == set(b0)


def test_jpeg_422_roundtrip_bounded():
    """The decoder's 4:2:2 path (h=2, v=1 sampling) exercised via the
    encoder's subsampling='422' mode — dims odd on both axes."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    x = np.arange(23)[None, :]
    y = np.arange(17)[:, None]
    arr = np.stack(
        [(x * 3 + y * 2) % 200 + 20, (x * 2 + y * 5) % 180 + 30,
         (x + y) % 160 + 40], axis=2
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(arr, quality=90, subsampling="422"))
    assert out.shape == arr.shape
    assert np.abs(out.astype(int) - arr.astype(int)).max() <= 110


# ── r14 second wave: PROGRESSIVE JPEG (SOF2) ────────────────────────────


def test_jpeg_progressive_equals_baseline_bit_for_bit():
    """The structural invariant that validates the whole T.81 G.2 scan
    algebra at once: progression only reorders coefficient
    TRANSMISSION (DC successive approximation + per-component AC
    spectral selection + AC refinement), so at equal quality the
    progressive stream must decode bit-for-bit identical to the
    baseline stream.  Fuzzed over random noise images (the hardest
    content: dense newly-significant coefficients exercise the
    correction-bit / ZRL / EOB-run interleavings)."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    for seed in range(8):
        rng = np.random.default_rng(seed)
        h, w = int(rng.integers(8, 40)), int(rng.integers(8, 40))
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for sub in ("444", "420"):
            base = decode_jpeg(encode_jpeg(img, quality=85, subsampling=sub))
            prog = decode_jpeg(
                encode_jpeg(img, quality=85, subsampling=sub, progressive=True)
            )
            assert (base == prog).all(), (seed, sub)


def test_jpeg_progressive_grayscale_dc_exact():
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_jpeg,
        decode_payload,
        encode_jpeg,
    )

    rng = np.random.default_rng(6)
    g = np.repeat(
        np.repeat(rng.choice(np.arange(0, 256, 2), size=(3, 4)), 8, 0), 8, 1
    ).astype(np.uint8)
    arr = np.stack([g, g, g], axis=2)
    jb = encode_jpeg(arr, quality=50, grayscale=True, progressive=True)
    assert (decode_jpeg(jb) == arr).all()
    assert (decode_payload(jb) == arr).all()
    assert b"\xff\xc2" in jb  # really is SOF2


def test_jpeg_progressive_validates():
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    arr = (np.arange(16 * 16 * 3) % 256).reshape(16, 16, 3).astype(np.uint8)
    with pytest.raises(ValueError, match="baseline-mode"):
        encode_jpeg(arr, progressive=True, restart_interval=2)
    good = encode_jpeg(arr, progressive=True)
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg(good[:-30])
