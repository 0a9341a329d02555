"""Multimodal column plumbing: raw-image resize/stats, frame sampling, PCM."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from label_maker_dask_spark.multimodal.images import (
    attach_image_meta,
    audio_rms_windows,
    decode_compressed,
    image_channel_stats,
    resize_images,
    sample_frames,
)
from label_maker_dask_spark.sources.fake import fake_image_bytes


def _images_df(spark, n=4):
    rows = [Row(z=15, x=i, y=0, image=fake_image_bytes(15, i, 0)) for i in range(n)]
    return spark.createDataFrame(rows, schema="z long, x long, y long, image binary")


def test_attach_image_meta(spark):
    df = _images_df(spark).select(
        "z", "x", "y", attach_image_meta(F.col("image"), 256, 256).alias("img")
    )
    r = df.first()
    assert (r.img.height, r.img.width, r.img.n_channels) == (256, 256, 3)
    assert r.img.mode == "raw_u8"
    assert len(r.img.data) == 256 * 256 * 3


def test_resize_matches_numpy(spark):
    out = resize_images(_images_df(spark), (256, 256), (64, 64)).collect()
    assert all(len(r.image) == 64 * 64 * 3 for r in out)
    # cross-check one image against direct numpy indexing
    src = np.frombuffer(fake_image_bytes(15, 0, 0), dtype=np.uint8).reshape(256, 256, 3)
    rows = np.floor((np.arange(64) + 0.5) * 256 / 64).astype(int)
    expected = src[rows][:, rows].tobytes()
    got = next(r.image for r in out if r.x == 0)
    assert got == expected


def test_channel_stats_match_numpy(spark):
    out = {r.x: r for r in image_channel_stats(_images_df(spark), (256, 256)).collect()}
    src = np.frombuffer(fake_image_bytes(15, 2, 0), dtype=np.uint8).reshape(256, 256, 3)
    assert out[2].ch_min == [int(v) for v in src.min(axis=(0, 1))]
    assert out[2].ch_max == [int(v) for v in src.max(axis=(0, 1))]
    for got, exp in zip(out[2].ch_mean, src.mean(axis=(0, 1))):
        assert abs(got - exp) < 1e-5


def test_sample_frames(spark):
    frame = 8 * 8 * 3
    video = bytes(range(256)) * (frame * 12 // 256)  # 12 frames of 8x8x3
    df = spark.createDataFrame(
        [Row(clip_id=1, video=video)], schema="clip_id long, video binary"
    )
    out = sample_frames(df, (8, 8), every_k=5).collect()
    assert [r.frame_idx for r in sorted(out, key=lambda r: r.frame_idx)] == [0, 5, 10]
    assert all(len(r.image) == frame for r in out)
    # frame content round-trips exactly
    first = next(r for r in out if r.frame_idx == 0)
    assert first.image == video[:frame]


def test_audio_rms(spark):
    # constant-amplitude square wave -> rms == amplitude
    pcm = (np.ones(4096, dtype=np.int16) * 1000).tobytes()
    df = spark.createDataFrame([Row(clip_id=7, audio=pcm)],
                               schema="clip_id long, audio binary")
    out = audio_rms_windows(df, window_samples=1024).collect()
    assert len(out) == 4
    assert all(abs(r.rms - 1000.0) < 1e-9 for r in out)


def test_compressed_decode_is_gated(spark):
    # png and jpeg decode natively; everything else needs Pillow
    try:
        import PIL  # noqa: F401
        pytest.skip("PIL installed; decode available")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_compressed("webp")


def test_phash_neardup_pairs_on_perturbed_images(spark):
    """Perceptual near-dup: copies of an image with a couple of pixels
    nudged must land within a small hamming ball of the original, found
    by the banded pair search with exact recall (verified against
    brute-force hamming over all signatures); unrelated images stay far."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.multimodal.phash import (
        gray8_pixels,
        phash63_columns,
    )
    from label_maker_dask_spark.operators.dedup import banded_hamming_pairs

    def img(seed):
        return [((seed * 37 + i * 13) % 197) / 98.0 - 1.0 for i in range(64)]

    rows = []
    base = img(1)
    rows.append((1, base))
    for pid, (pos, delta) in [(2, (5, 0.02)), (3, (40, -0.02))]:
        v = list(base)
        v[pos] = max(-1.0, min(1.0, v[pos] + delta))
        rows.append((pid, v))
    rows += [(10 + s, img(s + 50)) for s in range(6)]  # unrelated
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    px = df.select("vec_id", gray8_pixels(F.col("embedding")).alias("px"))
    sigs = phash63_columns(px, "px").select("vec_id", "phash")
    sig_by_id = {r.vec_id: r.phash for r in sigs.collect()}

    max_h, bands = 6, 7
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in banded_hamming_pairs(
            sigs, "vec_id", "phash", 63, bands, max_h
        ).collect()
    }
    ids = sorted(sig_by_id)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sig_by_id[a] ^ sig_by_id[b]).count("1")
            if h <= max_h:
                want[(a, b)] = h
    assert got == want            # exact recall, no extras
    assert (1, 2) in got and (1, 3) in got  # the perturbed copies found
    assert all(a < 10 and b < 10 for a, b in got)  # unrelated images far


def test_phash_arrow_bit_identical_to_expression_form(spark):
    """The Arrow pHash must reproduce the DuckDB SQL form
    (``phash63_sql``, the oracle of ``multimodal_phash_signatures``)
    EXACTLY on the 500 real sf0.001 embeddings, or the replay contract
    breaks."""
    from tests.test_oracle_adversarial import _both

    got, want = _both(
        spark, "/root/testdata/sf0.001", "multimodal_phash_signatures",
        ["embeddings"],
    )
    assert got == want and len(got) == 500


def test_jpeg_fixture_tiles_vs_jvm(spark):
    """Pin the committed JPEG fixture tiles (the oracle constants of
    multimodal_jpeg_tile_channel_sums) to the independent JVM decoder:
    grayscale within per-sample |delta| <= 1 (the two spec IDCTs round
    near-ties differently — float einsum here, scaled-integer in the
    JVM; bit-exactness is pattern-dependent luck, see
    test_jpeg.test_gray_bit_exact_vs_jvm's fixed stream), RGB within
    the documented chroma tolerance, and the baked EXPECTED_SUMS must
    equal the native decode exactly."""
    from tests.test_jpeg import _jvm_tools

    from label_maker_dask_spark.multimodal.jpeg import decode_jpeg
    from label_maker_dask_spark.multimodal.jpeg_tiles_fixture import (
        EXPECTED_SUMS,
        JPEG_B64,
        tile_bytes,
    )

    _, decode_rgb, decode_gray = _jvm_tools(spark)
    expected = {
        (x, y, c): s for _, x, y, c, s in EXPECTED_SUMS
    }
    seen = set()
    for (x, y) in sorted(JPEG_B64):
        blob = tile_bytes(x, y)
        ours = decode_jpeg(blob)
        if ours.ndim == 2:  # grayscale: near-tie rounding only
            theirs = decode_gray(blob)
            d = np.abs(ours.astype(int) - theirs.astype(int))
            assert d.max() <= 1 and d.mean() <= 0.02
            planes = ours[:, :, None]
        else:  # RGB: documented chroma tolerance vs JVM
            theirs = decode_rgb(blob)
            d = np.abs(ours.astype(int) - theirs.astype(int))
            assert d.max() <= 4 and d.mean() <= 1.0
            planes = ours
        for ch in range(planes.shape[2]):
            s = int(planes[:, :, ch].astype(np.int64).sum())
            assert expected[(x, y, ch)] == s, (x, y, ch)
            seen.add((x, y, ch))
    assert seen == set(expected)  # no stale baked rows
