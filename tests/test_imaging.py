"""Image payload codec + phash invariants (BASELINE.json input_hint)."""

import numpy as np
import pytest

from supercrawler_spark import imaging


# both codec families when Pillow is installed; synthetic-only otherwise
CODECS = [False, True] if imaging.HAVE_PIL else [False]


@pytest.mark.parametrize("use_pil", CODECS)
def test_png_roundtrip_lossless(use_pil):
    px = imaging.synth_pixels("img-0001", 48, 32)
    data = imaging.encode_image(px, "png", use_pil=use_pil)
    out, w, h, fmt = imaging.decode_image(data)
    assert (w, h, fmt) == (48, 32, "png")
    assert np.array_equal(out, px)
    assert imaging.psnr(px, out) == float("inf")


@pytest.mark.parametrize("use_pil", CODECS)
def test_jpeg_roundtrip_lossy_psnr_over_40db(use_pil):
    px = imaging.synth_pixels("img-0002", 64, 48)
    data = imaging.encode_image(px, "jpeg", use_pil=use_pil)
    out, w, h, fmt = imaging.decode_image(data)
    assert (w, h, fmt) == (64, 48, "jpeg")
    assert not np.array_equal(out, px)  # genuinely lossy
    p = imaging.psnr(px, out)
    assert p >= 40.0, f"PSNR {p} below the 40 dB invariant"
    assert np.allclose(px.astype(float), out.astype(float), atol=6)


def test_decode_rejects_garbage():
    with pytest.raises(imaging.ImageCodecError):
        imaging.decode_image(b"NOPE" + b"\x00" * 16)
    with pytest.raises(imaging.ImageCodecError):
        imaging.decode_image(b"")


def test_synth_pixels_deterministic():
    a = imaging.synth_pixels("img-0003", 32, 32)
    b = imaging.synth_pixels("img-0003", 32, 32)
    c = imaging.synth_pixels("img-0004", 32, 32)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)


def test_phash_properties():
    px = imaging.synth_pixels("img-0005", 40, 40)
    h1 = imaging.phash64(px)
    assert isinstance(h1, int)
    assert -(1 << 63) <= h1 < (1 << 63)  # fits LongType
    # phash is robust to the lossy codec (near-duplicate detection)
    lossy, *_ = imaging.decode_image(imaging.encode_image(px, "jpeg"))
    assert imaging.hamming64(h1, imaging.phash64(lossy)) <= 4
    # and far for a different image
    other = imaging.phash64(imaging.synth_pixels("img-9999", 40, 40))
    assert imaging.hamming64(h1, other) > 10

@pytest.mark.parametrize("banding", ["single_chunk", "chunk_pairs"])
def test_hamming_near_pairs_generic_64bit_completeness(spark, monkeypatch,
                                                       banding):
    """The generic banded hamming kernel at bits=64 (the phash width):
    banded result == brute force, including planted near pairs and signed
    int64 signatures (top bit set), with single-chunk bands and with the
    chunk-pair bands large tables switch to."""
    import numpy as np

    from supercrawler_spark.datapipe import dedup as DD

    if banding == "chunk_pairs":
        monkeypatch.setattr(DD, "PAIRS_BANDING_MIN_ROWS", 0)

    rng = np.random.default_rng(5)
    sigs = list(rng.integers(-2**63, 2**63 - 1, size=40, dtype=np.int64))
    # planted: flip <=6 bits of sig[0] and sig[1]
    for base, flips in ((0, 3), (1, 6)):
        v = int(sigs[base])
        for bit in rng.choice(64, size=flips, replace=False):
            v ^= 1 << int(bit)
        v &= (1 << 64) - 1
        sigs.append(np.int64(v - (1 << 64) if v >= (1 << 63) else v))
    df = spark.createDataFrame(
        [(i, int(s)) for i, s in enumerate(sigs)], "id long, sig long")
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in
           DD.hamming_near_pairs(df, "sig", "id", bits=64,
                                 max_hamming=6).collect()}

    def ham(a, b):
        return bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1")

    want = {(i, j, ham(sigs[i], sigs[j]))
            for i in range(len(sigs)) for j in range(i + 1, len(sigs))
            if ham(sigs[i], sigs[j]) <= 6}
    assert got == want
    assert (0, 40, 3) in got and (1, 41, 6) in got


def test_phash_dup_pairs_finds_planted_image_near_dup(spark):
    """Image-axis near-dup dedup: a lightly-noised re-encode of an image
    must surface as a phash near pair (both the decode path and the
    precomputed-phash pure-JVM path), distinct images must not."""
    import numpy as np
    import pandas as pd

    from supercrawler_spark import fixtures, imaging
    from supercrawler_spark.datapipe import multimodal as MM

    images = fixtures.make_images(10)
    rng = np.random.default_rng(3)
    px, w, h, _ = imaging.decode_image(bytes(images.iloc[0]["bytes"]))
    noisy = np.clip(px.astype(np.int64) + rng.integers(-2, 3, px.shape),
                    0, 255).astype(np.uint8)
    dup = {
        "image_id": "img-dup", "bytes": imaging.encode_image(noisy, "png"),
        "w": w, "h": h, "fmt": "png", "caption": "noisy copy",
        "phash": imaging.phash64(noisy),
    }
    pdf = pd.concat([images, pd.DataFrame([dup])], ignore_index=True)
    df = spark.createDataFrame(pdf)

    # both paths must surface the planted pair as the closest pair; exact
    # hamming values may differ between them for jpeg rows (the
    # precomputed column hashes pre-encode pixels, the decode path hashes
    # the lossy round-trip — both are correct hashes of "the image")
    for kwargs in ({}, {"phash_col": "phash"}):
        pairs = {(r["id_a"], r["id_b"], r["hamming"]) for r in
                 MM.phash_dup_pairs(df, max_hamming=10, **kwargs).collect()}
        assert any(a == "img-0000" and b == "img-dup" for a, b, _ in pairs)
        planted_h = next(h for a, b, h in pairs
                         if a == "img-0000" and b == "img-dup")
        others = [h for a, b, h in pairs if b != "img-dup"]
        assert all(planted_h <= h for h in others), (planted_h, others)


def test_phash_dup_clusters_groups_planted_dups(spark):
    """pairs → connected components: two images each with a planted noisy
    re-encode yield exactly two clusters labeled by their min image id;
    images without a near pair are not emitted (they are trivial keepers —
    the clustering runs over O(duplicates), never O(corpus))."""
    import numpy as np
    import pandas as pd

    from supercrawler_spark import fixtures, imaging
    from supercrawler_spark.datapipe import multimodal as MM

    images = fixtures.make_images(8)
    rng = np.random.default_rng(11)
    planted = []
    for src_idx, dup_id in ((0, "img-dup-a"), (3, "img-dup-b")):
        px, w, h, _ = imaging.decode_image(bytes(images.iloc[src_idx]["bytes"]))
        noisy = np.clip(px.astype(np.int64) + rng.integers(-2, 3, px.shape),
                        0, 255).astype(np.uint8)
        planted.append({"image_id": dup_id,
                        "bytes": imaging.encode_image(noisy, "png"),
                        "w": w, "h": h, "fmt": "png", "caption": "noisy",
                        "phash": imaging.phash64(noisy)})
    pdf = pd.concat([images, pd.DataFrame(planted)], ignore_index=True)
    df = spark.createDataFrame(pdf)

    rows = MM.phash_dup_clusters(df, max_hamming=10).collect()
    label_of = {r["image_id"]: r["cluster_id"] for r in rows}
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["image_id"])
    # each planted re-encode lands in the same component as its source
    # (synthetic images can also pair accidentally at h<=10, so clusters
    # may contain more members — membership, not set equality, is the
    # invariant)
    assert label_of["img-dup-a"] == label_of["img-0000"]
    assert label_of["img-dup-b"] == label_of["img-0003"]
    # every emitted cluster is labeled by its min member
    for cid, members in by_cluster.items():
        assert cid == min(members)
