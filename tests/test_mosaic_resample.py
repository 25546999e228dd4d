"""M4: mosaic (union goldens) + resample kernels.

Goldens: test_raster.py:628-645 (exact union arrays),
test_raster.py:178-227 (extent merge, multiband, nodata kept),
test_raster.py:299-302 (resolution shape ratio).
"""

import numpy as np
import pytest

from gdal_boots_spark.operators.mosaic import mosaic
from gdal_boots_spark.operators.warp import resample
from gdal_boots_spark.sources.tiles import RasterGrid, array_to_tiles, tiles_to_array


def _mk(spark, arr, transform, epsg=32628, tile=2, nodata=None, rid="m"):
    arr = np.asarray(arr)
    grid = RasterGrid(rid, epsg, transform, arr.shape[-1], arr.shape[-2],
                      tile_w=tile, tile_h=tile, bands=1 if arr.ndim == 2 else arr.shape[0],
                      dtype=str(arr.dtype), nodata=nodata)
    return array_to_tiles(spark, arr, grid), grid


def test_union_golden_two(spark):
    # test_raster.py:628-639
    a1 = np.array([[1, 2, 3], [4, 5, 6], [7, 8, 9]]).T.astype(np.int64)
    a2 = np.array([[4, 5, 6], [7, 8, 9], [1, 2, 3]]).T.astype(np.int64)
    t1, g1 = _mk(spark, a1, (10.0, 0.0, 0.0, 0.0, -10.0, 0.0), rid="u1")
    t2, g2 = _mk(spark, a2, (10.0, 0.0, 10.0, 0.0, -10.0, 0.0), rid="u2")
    out_tiles, og = mosaic(spark, [(t1, g1), (t2, g2)])
    got = tiles_to_array(out_tiles, og)
    exp = np.array([[1, 2, 3], [4, 5, 6], [7, 8, 9], [1, 2, 3]]).T
    assert np.array_equal(got, exp)


def test_union_golden_three(spark):
    # test_raster.py:640-645: ds3 shifted up by 10 -> 4x4, empty corner 0
    a1 = np.array([[1, 2, 3], [4, 5, 6], [7, 8, 9]]).T.astype(np.int64)
    a2 = np.array([[4, 5, 6], [7, 8, 9], [1, 2, 3]]).T.astype(np.int64)
    a3 = np.array([[3, 1, 2], [6, 4, 5], [9, 7, 8]]).T.astype(np.int64)
    t1, g1 = _mk(spark, a1, (10.0, 0.0, 0.0, 0.0, -10.0, 0.0), rid="v1")
    t2, g2 = _mk(spark, a2, (10.0, 0.0, 10.0, 0.0, -10.0, 0.0), rid="v2")
    t3, g3 = _mk(spark, a3, (10.0, 0.0, 0.0, 0.0, -10.0, 10.0), rid="v3")
    out_tiles, og = mosaic(spark, [(t1, g1), (t2, g2), (t3, g3)])
    got = tiles_to_array(out_tiles, og)
    exp = np.array([[3, 1, 2, 3], [6, 4, 5, 6], [9, 7, 8, 9], [0, 1, 2, 3]]).T
    assert np.array_equal(got, exp)


def test_mosaic_extent_and_nodata(spark):
    # test_raster.py:178-188 shape golden + :210-227 nodata-kept golden
    a1 = np.full((100, 100), 1, np.uint8)
    a2 = np.full((100, 100), 2, np.uint8)
    t1, g1 = _mk(spark, a1, (100.0, 0.0, 0.0, 0.0, -100.0, 10000.0), epsg=3857, tile=64, rid="w1")
    t2, g2 = _mk(spark, a2, (100.0, 0.0, 10000.0, 0.0, -100.0, 10000.0), epsg=3857, tile=64, rid="w2")
    out_tiles, og = mosaic(spark, [(t1, g1), (t2, g2)])
    assert (og.height, og.width) == (100, 200)
    got = tiles_to_array(out_tiles, og)
    assert np.array_equal(np.unique(got), [1, 2])

    # overlapping with nodata: later source's nodata must NOT overwrite
    b1 = np.full((4, 4), 9, np.uint8)
    b2 = np.full((4, 4), 255, np.uint8)
    b2[0, 0] = 7
    t1, g1 = _mk(spark, b1, (1.0, 0.0, 0.0, 0.0, -1.0, 4.0), tile=2, rid="n1", nodata=255.0)
    t2, g2 = _mk(spark, b2, (1.0, 0.0, 0.0, 0.0, -1.0, 4.0), tile=2, rid="n2", nodata=255.0)
    out_tiles, og = mosaic(spark, [(t1, g1), (t2, g2)])
    got = tiles_to_array(out_tiles, og)
    exp = np.full((4, 4), 9, np.uint8)
    exp[0, 0] = 7
    assert np.array_equal(got, exp)

    # a NaN nodata (no SQL literal spells it) builds and masks nothing
    c1, c2 = np.full((4, 4), 1.0), np.full((4, 4), 2.0)
    t1, g1 = _mk(spark, c1, (1.0, 0.0, 0.0, 0.0, -1.0, 4.0), tile=2, rid="f1", nodata=float("nan"))
    t2, g2 = _mk(spark, c2, (1.0, 0.0, 0.0, 0.0, -1.0, 4.0), tile=2, rid="f2", nodata=float("nan"))
    assert np.array_equal(tiles_to_array(*mosaic(spark, [(t1, g1), (t2, g2)])), c2)


def test_mosaic_misaligned_raises(spark):
    a = np.zeros((4, 4), np.uint8)
    t1, g1 = _mk(spark, a, (1.0, 0.0, 0.0, 0.0, -1.0, 4.0), rid="x1")
    t2, g2 = _mk(spark, a, (1.0, 0.0, 0.5, 0.0, -1.0, 4.0), rid="x2")
    with pytest.raises(ValueError):
        mosaic(spark, [(t1, g1), (t2, g2)])
    t3, g3 = _mk(spark, a, (2.0, 0.0, 0.0, 0.0, -2.0, 8.0), rid="x3")
    with pytest.raises(ValueError):
        mosaic(spark, [(t1, g1), (t3, g3)])


def test_resample_nearest_upsample(spark):
    rng = np.random.default_rng(3)
    src = rng.integers(0, 100, (12, 16)).astype(np.int32)
    tiles, grid = _mk(spark, src, (10.0, 0.0, 0.0, 0.0, -10.0, 120.0), tile=5, rid="rn")
    out_tiles, og = resample(tiles, grid, "nearest", resolution=(5.0, 5.0))
    assert (og.width, og.height) == (32, 24)  # shape ratio golden style
    got = tiles_to_array(out_tiles, og)
    exp = src[np.floor((np.arange(24) + 0.5) * 0.5).astype(int)[:, None],
              np.floor((np.arange(32) + 0.5) * 0.5).astype(int)[None, :]]
    assert np.array_equal(got, exp)


def test_resample_nearest_downsample(spark):
    rng = np.random.default_rng(4)
    src = rng.integers(0, 100, (12, 16)).astype(np.int32)
    tiles, grid = _mk(spark, src, (10.0, 0.0, 0.0, 0.0, -10.0, 120.0), tile=5, rid="rd")
    out_tiles, og = resample(tiles, grid, "nearest", resolution=(40.0, 40.0))
    got = tiles_to_array(out_tiles, og)
    exp = src[np.floor((np.arange(3) + 0.5) * 4).astype(int)[:, None],
              np.floor((np.arange(4) + 0.5) * 4).astype(int)[None, :]]
    assert np.array_equal(got, exp)


def test_resample_bilinear_matches_dense(spark):
    from gdal_boots_spark.geom.resample_kernels import bilinear

    rng = np.random.default_rng(5)
    src = rng.uniform(0, 100, (12, 16)).astype(np.float64)
    tiles, grid = _mk(spark, src, (10.0, 0.0, 0.0, 0.0, -10.0, 120.0), tile=5, rid="rb")
    out_tiles, og = resample(tiles, grid, "bilinear", size=(24, 18))
    got = tiles_to_array(out_tiles, og)
    exp = bilinear(src, 0, 0, 16 / 24, 12 / 18, 18, 24, 0, 0)
    assert np.allclose(got, exp)


def test_resample_average_and_sum_mass(spark):
    """Property (SURVEY §5d): sum kernel preserves total mass; average
    equals block mean."""
    rng = np.random.default_rng(6)
    src = rng.integers(0, 50, (12, 16)).astype(np.int32)
    tiles, grid = _mk(spark, src, (10.0, 0.0, 0.0, 0.0, -10.0, 120.0), tile=5, rid="ra")
    out_sum, og = resample(tiles, grid, "sum", resolution=(40.0, 40.0))
    got = tiles_to_array(out_sum, og)
    assert got.sum() == src.sum()
    exp = src.reshape(3, 4, 4, 4).sum(axis=(1, 3))
    assert np.allclose(got, exp)
    out_avg, og2 = resample(tiles, grid, "average", resolution=(20.0, 20.0))
    got2 = tiles_to_array(out_avg, og2)
    assert np.allclose(got2, src.reshape(6, 2, 8, 2).mean(axis=(1, 3)))


def test_resample_median_q_mode(spark):
    src = np.arange(64, dtype=np.int32).reshape(8, 8)
    tiles, grid = _mk(spark, src, (1.0, 0.0, 0.0, 0.0, -1.0, 8.0), tile=4, rid="rq")
    for kernel, ref in [
        ("median", np.median),
        ("min", np.min),
        ("max", np.max),
    ]:
        out, og = resample(tiles, grid, kernel, resolution=(2.0, 2.0))
        got = tiles_to_array(out, og)
        exp = np.array([[ref(src[2 * i : 2 * i + 2, 2 * j : 2 * j + 2]) for j in range(4)] for i in range(4)])
        assert np.allclose(got, exp), kernel
    out, og = resample(tiles, grid, "mode", resolution=(2.0, 2.0))
    got = tiles_to_array(out, og)
    # all block values distinct -> mode = smallest (deterministic tie rule)
    exp = np.array([[src[2 * i : 2 * i + 2, 2 * j : 2 * j + 2].min() for j in range(4)] for i in range(4)])
    assert np.array_equal(got, exp)


def test_resample_agg_non_integer(spark):
    """Aggregate kernels at NON-integer downscale factors (VERDICT r1
    item 3 lifted the integer guard): footprint-window semantics."""
    rng = np.random.default_rng(7)
    src = rng.integers(0, 50, (12, 16)).astype(np.int32)
    tiles, grid = _mk(spark, src, (10.0, 0.0, 0.0, 0.0, -10.0, 120.0), tile=5, rid="rx")
    out, og = resample(tiles, grid, "average", resolution=(15.0, 15.0))
    got = tiles_to_array(out, og)
    sx, sy = 16 / og.width, 12 / og.height
    bx = np.ceil(np.arange(og.width + 1) * sx - 0.5).astype(int).clip(0, 16)
    by = np.ceil(np.arange(og.height + 1) * sy - 0.5).astype(int).clip(0, 12)
    exp = np.array(
        [[src[by[i]: by[i + 1], bx[j]: bx[j + 1]].mean() for j in range(og.width)] for i in range(og.height)]
    )
    assert np.allclose(got, exp)
    # windows partition the grid -> sum kernel still preserves total mass
    out2, og2 = resample(tiles, grid, "sum", resolution=(15.0, 15.0))
    assert tiles_to_array(out2, og2).sum() == src.sum()
    # upsampling with an aggregate kernel is still an error
    with pytest.raises(ValueError):
        resample(tiles, grid, "average", resolution=(5.0, 5.0))


def test_window_agg_matches_block_agg():
    """window_agg generalizes block_agg: identical on integer factors."""
    from gdal_boots_spark.geom.resample_kernels import AGG_KERNELS, block_agg, window_agg

    rng = np.random.default_rng(8)
    src = rng.integers(0, 20, (12, 16)).astype(np.int32)
    for k in AGG_KERNELS:
        a = block_agg(src, 4, 4, k)
        b = window_agg(src, 0, 0, 4.0, 4.0, 3, 4, 0, 0, k)
        assert np.allclose(a, b), k


def test_conv_kernel_properties():
    """cubic/cubicspline/lanczos: normalized weights (constant->constant
    everywhere) and linear-reproduction in the interior (cubic & bspline)."""
    from gdal_boots_spark.geom.resample_kernels import separable_conv

    const = np.full((10, 12), 7.25)
    for k in ("cubic", "cubicspline", "lanczos"):
        out = separable_conv(const, 0, 0, 12 / 24, 10 / 20, 20, 24, 0, 0, k)
        assert np.allclose(out, 7.25), k

    yy, xx = np.mgrid[0:10, 0:12]
    ramp = 3.0 * xx + 2.0 * yy
    for k in ("cubic", "cubicspline"):
        out = separable_conv(ramp, 0, 0, 0.5, 0.5, 20, 24, 0, 0, k)
        for i in range(4, 16):          # rows with unclamped taps
            for j in range(4, 20):      # cols with unclamped taps
                fx = (j + 0.5) * 0.5 - 0.5
                fy = (i + 0.5) * 0.5 - 0.5
                assert abs(out[i, j] - (3.0 * fx + 2.0 * fy)) < 1e-9, (k, i, j)


def test_resample_conv_matches_dense(spark):
    """Distributed tiled cubic/cubicspline/lanczos == one dense kernel
    call over the whole raster (validates halo/assembly), up AND down."""
    from gdal_boots_spark.geom.resample_kernels import separable_conv

    rng = np.random.default_rng(9)
    src = rng.uniform(0, 100, (12, 16))
    tiles, grid = _mk(spark, src, (10.0, 0.0, 0.0, 0.0, -10.0, 120.0), tile=5, rid="rc")
    for k in ("cubic", "cubicspline", "lanczos"):
        out_tiles, og = resample(tiles, grid, k, size=(24, 18))
        got = tiles_to_array(out_tiles, og)
        exp = separable_conv(src, 0, 0, 16 / 24, 12 / 18, 18, 24, 0, 0, k)
        assert np.allclose(got, exp), k
        out_tiles, og = resample(tiles, grid, k, size=(5, 4))
        got = tiles_to_array(out_tiles, og)
        exp = separable_conv(src, 0, 0, 16 / 5, 12 / 4, 4, 5, 0, 0, k)
        assert np.allclose(got, exp), k


def test_conv_integer_clamp_no_wrap():
    """Cubic/lanczos overshoot on sharp edges must CLAMP to the dtype
    range (GDAL behavior), not wrap modulo 2^n (ADVICE r2)."""
    from gdal_boots_spark.geom.resample_kernels import separable_conv

    # hard step edge: 0 | 255 — negative lobes overshoot both sides
    src = np.zeros((8, 8), dtype=np.uint8)
    src[:, 4:] = 255
    for k in ("cubic", "lanczos"):
        out = separable_conv(src, 0, 0, 0.5, 0.5, 16, 16, 0, 0, k)
        assert out.dtype == np.uint8
        f = separable_conv(src.astype(np.float64), 0, 0, 0.5, 0.5, 16, 16, 0, 0, k)
        assert f.min() < 0 and f.max() > 255  # the edge genuinely overshoots
        exp = np.clip(np.round(f), 0, 255).astype(np.uint8)
        np.testing.assert_array_equal(out, exp)


def test_window_agg_zero_width_windows():
    """Zero-width clipped footprint windows yield 0, not a stray
    arr[lo] value (ufunc.reduceat identity quirk; ADVICE r2)."""
    from gdal_boots_spark.geom.resample_kernels import window_agg

    src = np.arange(16, dtype=np.float64).reshape(4, 4) + 1.0
    # output grid extends past the source: ox0/oy0 shifted so trailing
    # output pixels' footprints clip to empty windows
    for k in ("sum", "average", "min", "max", "rms", "median", "mode"):
        out = window_agg(src, 0, 0, 2.0, 2.0, 4, 4, 0, 0, k)
        assert out.shape == (4, 4)
        # rows/cols 2..3 cover source rows/cols 4..8 -> clipped empty
        assert np.all(out[2:, :] == 0), k
        assert np.all(out[:, 2:] == 0), k
        assert np.all(out[:2, :2] != 0), k


def test_window_agg_trailing_empty_preserves_last_window():
    """ADVICE r3: clipping reduceat indices to len-1 truncated the LAST
    non-empty window when trailing zero-width windows exist.  Values in
    the valid region must match a naive per-window oracle exactly."""
    from gdal_boots_spark.geom.resample_kernels import window_agg

    rng = np.random.default_rng(7)
    for (h, w, sy, sx, oh, ow) in [(4, 4, 2.0, 2.0, 4, 4), (5, 7, 1.5, 2.5, 6, 4)]:
        src = rng.integers(1, 100, size=(h, w)).astype(np.float64)

        def bound(j, s, n):
            return min(max(int(np.ceil(j * s - 0.5)), 0), n)

        for k in ("sum", "average", "rms", "min", "max", "median", "q1", "q3", "mode"):
            out = window_agg(src, 0, 0, sx, sy, oh, ow, 0, 0, k)
            for i in range(oh):
                for j in range(ow):
                    blk = src[bound(i, sy, h):bound(i + 1, sy, h),
                              bound(j, sx, w):bound(j + 1, sx, w)].ravel()
                    if blk.size == 0:
                        exp = 0.0
                    elif k == "sum":
                        exp = blk.sum()
                    elif k == "average":
                        exp = blk.mean()
                    elif k == "rms":
                        exp = np.sqrt((blk ** 2).mean())
                    elif k == "min":
                        exp = blk.min()
                    elif k == "max":
                        exp = blk.max()
                    elif k == "median":
                        exp = np.median(blk)
                    elif k == "q1":
                        exp = np.quantile(blk, 0.25)
                    elif k == "q3":
                        exp = np.quantile(blk, 0.75)
                    else:
                        vals, cnts = np.unique(blk, return_counts=True)
                        exp = vals[np.argmax(cnts)]
                    assert np.isclose(out[i, j], exp), (k, i, j, out[i, j], exp)
