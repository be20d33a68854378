"""Property-based kernel tests (hypothesis)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pyshepseg_spark.kernels.shepherd import (clump, clump_slow,
                                              make_seg_size,
                                              relabel_segments)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(2, 24), st.integers(2, 24),
    st.integers(0, 2 ** 31 - 1),
    st.booleans(),
    st.sampled_from([5, 9, 10000]),
)
def test_clump_equals_sequential_dfs(h, w, seed, four_conn, cap):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 3, (h, w)).astype(np.uint16)
    a, na = clump(img, 2, four_connected=four_conn,
                  max_clump_size=cap)
    b, nb = clump_slow(img, 2, four_connected=four_conn,
                       max_clump_size=cap)
    assert na == nb
    assert np.array_equal(a, b)


@settings(max_examples=40, deadline=None)
@given(st.integers(2, 20), st.integers(2, 20),
       st.integers(0, 2 ** 31 - 1))
def test_clump_partition_properties(h, w, seed):
    """Structural invariants: null pixels stay 0; every clump is
    uniform in input value; IDs are dense 1..n."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 4, (h, w)).astype(np.uint16)
    out, nxt = clump(img, 3, four_connected=True)
    assert ((img == 3) == (out == 0)).all()
    n = nxt - 1
    if n:
        sizes = np.bincount(out.ravel(), minlength=n + 1)
        assert (sizes[1:] > 0).all()
        for cid in range(1, n + 1):
            vals = img[out == cid]
            assert (vals == vals[0]).all()


@settings(max_examples=30, deadline=None)
@given(st.integers(2, 16), st.integers(2, 16),
       st.integers(0, 2 ** 31 - 1))
def test_relabel_makes_ids_contiguous(h, w, seed):
    rng = np.random.default_rng(seed)
    # sparse ids with holes
    seg = rng.choice([0, 1, 3, 7, 9], size=(h, w)).astype(np.uint32)
    sizes = make_seg_size(seg)
    before_partition = seg.copy()
    relabel_segments(seg, sizes, 1)
    ids = np.unique(seg[seg > 0])
    if len(ids):
        assert ids.min() == 1 and ids.max() == len(ids)
    # relabel preserves the partition (same-group pixels stay same)
    for old in np.unique(before_partition):
        cells = before_partition == old
        assert len(np.unique(seg[cells])) == 1


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.integers(100, 230),                  # image size
       st.sampled_from([(48, 16), (64, 16), (64, 24), (96, 24)]),
       st.integers(0, 10**6),                  # image seed
       st.booleans(),                          # four_connected
       st.sampled_from([0, 3, 17]))            # nodata margin width
def test_stitch_parity_random_configs(size, tile_overlap, seed,
                                      four_conn, margin):
    """Randomized (size, tile, overlap, image, connectivity, nodata
    margin) stitch parity: the distributed sequential stitch must be
    BITWISE equal to the reference's own recode chain replayed
    driver-side (refharness.reference_stitched_mosaic) on every
    configuration — edge-grown last rows/cols, chains across
    interior tiles, odd sizes, 4- and 8-connected clumping, and
    nodata margins wide enough to null whole overlap strips (the
    reference's null-mode recode quirk). Complements the fixed
    2x2/3x3/4x4/3x2 parity tests, which pin the last two axes
    (VERDICT r4 #8)."""
    import pandas as pd
    from pyshepseg_spark import refharness
    from pyshepseg_spark.operators.segment import (
        SegConfig, assemble_image, segment_images_tiled)
    from pyshepseg_spark.session import get_spark
    from pyshepseg_spark.sources.codec import decode_image, encode_image
    from pyshepseg_spark.sources.imagegen import generate_image

    # the reference replay is the oracle: without it every example
    # fails, so fail before the Spark work rather than after it
    refharness.import_reference()
    tile, overlap = tile_overlap
    if size <= tile:           # need a real multi-tile grid
        size = tile + max(17, size % tile)
    spark = get_spark(app_name="prop_stitch", master="local[8]",
                      shuffle_partitions=8)
    row, _ = generate_image(seed % 1000, size=size, seed=seed)
    if margin:
        img0 = decode_image(row["bytes"], row["fmt"], size, size)
        img0[:, :margin, :] = 65535
        img0[:, -margin:, :] = 65535
        img0[:, :, :margin] = 65535
        img0[:, :, -margin:] = 65535
        row["bytes"] = encode_image(img0, row["fmt"])
    k = int(row["caption"].split(": ")[1].split()[0])
    pdf = pd.DataFrame([row])
    pdf["num_clusters"] = k
    cfg = SegConfig(img_null_val=65535, four_connected=four_conn,
                    min_segment_size=50, tile_size=tile,
                    overlap=overlap)
    final, _, _ = segment_images_tiled(
        spark.createDataFrame(pdf), cfg)
    ours = assemble_image(final.toPandas(), size, size)
    img = decode_image(row["bytes"], row["fmt"], size, size)
    ref = refharness.reference_stitched_mosaic(img, k, cfg)
    assert np.array_equal(ours, ref.astype(np.int64))
