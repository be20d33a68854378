"""Per-segment *spatial* statistics and the user-UDF surface.

Rebuilds tilingstats' spatial layer
(/root/reference/pyshepseg/tilingstats.py:1037-1216, 1262-1390):
the reference accumulates per-segment point lists
(SegPoint(x, y, val)) and hands them to a numba user function; here
the same contract is a grouped-map pandas UDF over a long-format
(image_id, seg_id, x, y, val) DataFrame — ``applyInPandas`` per
segment group, vectorized numpy inside (SURVEY.md §2.9).

Shipped UDFs (ports of the reference's, same semantics):
  - mean_coord   (U2, tilingstats.py:1097-1142) — also available as a
                 pure aggregation (no UDF) via :func:`mean_coords`
  - variogram    (U1, tilingstats.py:1037-1094)
  - edge pixels  (U3, tilingstats.py:1145-1216)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

PIXELS_SCHEMA = "image_id string, seg_id long, x int, y int, val long"


def pixels_long(final_tiles, band: int = 0):
    """Long-format pixel table from stitched tiles: one row per valid
    pixel with image coordinates. This is the reference's per-segment
    point-list accumulation (tilingstats.py:1651-1699) as a
    DataFrame; the shuffle replaces the completeness state machine."""

    def kernel(batches):
        for pdf in batches:
            frames = []
            for row in pdf.itertuples(index=False):
                seg = np.frombuffer(row.segdata, dtype="<i8").reshape(
                    row.out_ysize, row.out_xsize)
                pix = np.frombuffer(row.pixels, dtype="<u2").reshape(
                    row.nbands, row.out_ysize, row.out_xsize)
                yy, xx = np.nonzero(seg)
                if len(yy) == 0:
                    continue
                frames.append(pd.DataFrame({
                    "image_id": row.image_id,
                    "seg_id": seg[yy, xx],
                    "x": (xx + row.xout).astype(np.int32),
                    "y": (yy + row.yout).astype(np.int32),
                    "val": pix[band][yy, xx].astype(np.int64)}))
            yield (pd.concat(frames, ignore_index=True) if frames
                   else pd.DataFrame(columns=["image_id", "seg_id",
                                              "x", "y", "val"]))

    cols = ["image_id", "xout", "yout", "out_xsize", "out_ysize",
            "nbands", "pixels", "segdata"]
    return final_tiles.select(*cols).mapInPandas(kernel, PIXELS_SCHEMA)


def mean_coords(pixels, geotransform=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0)):
    """U2 as pure SQL: per-segment mean easting/northing through the
    6-term affine (tilingstats.py:1134-1135) — no UDF needed."""
    gt = geotransform
    ex = F.lit(gt[0]) + F.col("x") * F.lit(gt[1]) \
        + F.col("y") * F.lit(gt[2])
    ny = F.lit(gt[3]) + F.col("x") * F.lit(gt[4]) \
        + F.col("y") * F.lit(gt[5])
    return (pixels.withColumn("easting", ex).withColumn("northing", ny)
            .groupBy("image_id", "seg_id")
            .agg(F.avg("easting").alias("mean_easting"),
                 F.avg("northing").alias("mean_northing")))


def apply_segment_udf(pixels, func, out_schema: str):
    """The engine's user-UDF contract (reference numba contract:
    userFunc(pts, imgNullVal, intArr, floatArr, userParam),
    tilingstats.py:1587-1648): ``func(pdf)`` receives one segment's
    points as a pandas DataFrame (image_id, seg_id, x, y, val) and
    returns a one-row DataFrame matching out_schema."""
    return (pixels.groupBy("image_id", "seg_id")
            .applyInPandas(lambda pdf: func(pdf), out_schema))


def variogram_udf(max_dist: int = 5):
    """U1 (tilingstats.py:1037-1094, userFuncVariogram semantics,
    replicated exactly): densify the segment to its bbox, then for
    every offset pair (dy, dx) with BOTH in 1..max_dist (the
    reference never pairs along a pure row/column), bin by the
    TRUNCATED integer Euclidean distance and accumulate squared
    value differences; variogram_g = RMS of bin g. Vectorized as
    shifted-array diffs per offset (max_dist^2 offsets, each a whole-
    array op — no per-pixel Python)."""

    def func(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(np.int64)
        y = pdf["y"].to_numpy(np.int64)
        v = pdf["val"].to_numpy(np.float64)
        x0, y0 = x.min(), y.min()
        tile = np.full((y.max() - y0 + 1, x.max() - x0 + 1),
                       np.nan, dtype=np.float64)
        tile[y - y0, x - x0] = v
        sums = np.zeros(max_dist, dtype=np.float64)
        cnts = np.zeros(max_dist, dtype=np.int64)
        for dy in range(1, max_dist + 1):
            for dx in range(1, max_dist + 1):
                dist = int(np.sqrt(dy * dy + dx * dx))
                if dist > max_dist:
                    continue
                a = tile[:-dy, :-dx] if dy and dx else tile
                b = tile[dy:, dx:]
                d = a - b
                m = ~np.isnan(d)
                sums[dist - 1] += (d[m] ** 2).sum()
                cnts[dist - 1] += int(m.sum())
        out = {"image_id": pdf["image_id"].iloc[0],
               "seg_id": pdf["seg_id"].iloc[0]}
        for lag in range(1, max_dist + 1):
            out[f"variogram_{lag}"] = (
                float(np.sqrt(sums[lag - 1] / cnts[lag - 1]))
                if cnts[lag - 1] > 0 else float("nan"))
        return pd.DataFrame([out])

    schema = ("image_id string, seg_id long, "
              + ", ".join(f"variogram_{g} double"
                          for g in range(1, max_dist + 1)))
    return func, schema


def edge_pixels_tiled(final_tiles, four_connected: bool = True):
    """U3 at scale: per-segment edge-pixel counts computed from the
    stitched tiles WITHOUT the one-row-per-pixel shuffle of
    ``pixels_long`` + per-segment groups.

    Decomposition: a pixel is an edge pixel iff any 4(8)-neighbour
    carries a different segment id (seg 0 and out-of-image both
    count as different — the reference densifies each segment with a
    zero border, tilingstats.py:1743-1792). Every neighbour except
    those of the tile's outermost ring is in-tile, so pass 1 decides
    all interior pixels locally and emits per-segment partial counts;
    only undecided ring pixels (all known neighbours equal, >=1
    neighbour in the adjacent tile) plus the ring's segment ids are
    exchanged — shuffle ~ mosaic perimeter, never pixel count. Pass 2
    resolves them with one equi-join on pixel coordinates.

    Exactly equal to apply_segment_udf(edge_pixels_udf) — see
    test_zonal_subset_spatial.py."""
    offs = ([(-1, 0), (1, 0), (0, -1), (0, 1)] if four_connected
            else [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1),
                  (1, -1), (1, 0), (1, 1)])
    dims = final_tiles.groupBy("image_id").agg(
        F.max(F.col("xout") + F.col("out_xsize")).alias("img_w"),
        F.max(F.col("yout") + F.col("out_ysize")).alias("img_h"))
    j = (final_tiles.select("image_id", "xout", "yout", "out_xsize",
                            "out_ysize", "segdata")
         # no forced broadcast: dims is one row per image (AQE
         # broadcasts when actually small)
         .join(dims, "image_id"))

    part_schema = ("image_id string, kind string, seg_id long, "
                   "cnt long, x int, y int, nx int, ny int")
    cols = ["image_id", "kind", "seg_id", "cnt", "x", "y", "nx", "ny"]

    def kernel(batches):
        for pdf in batches:
            frames = []
            for row in pdf.itertuples(index=False):
                h, w = row.out_ysize, row.out_xsize
                seg = np.frombuffer(row.segdata, dtype="<i8").reshape(
                    h, w)
                # -1 = unknown (adjacent tile), -2 = outside image
                # (known different)
                pad = np.full((h + 2, w + 2), -1, dtype=np.int64)
                pad[1:-1, 1:-1] = seg
                if row.xout == 0:
                    pad[:, 0] = -2
                if row.yout == 0:
                    pad[0, :] = -2
                if row.xout + w == row.img_w:
                    pad[:, -1] = -2
                if row.yout + h == row.img_h:
                    pad[-1, :] = -2
                differs = np.zeros((h, w), dtype=bool)
                unknown = np.zeros((h, w), dtype=bool)
                for dy, dx in offs:
                    nb = pad[1 + dy:h + 1 + dy, 1 + dx:w + 1 + dx]
                    differs |= (nb != seg) & (nb != -1)
                    unknown |= nb == -1
                inseg = seg > 0
                decided = inseg & differs
                if decided.any():
                    u, c = np.unique(seg[decided], return_counts=True)
                    frames.append(pd.DataFrame({
                        "image_id": row.image_id, "kind": "cnt",
                        "seg_id": u, "cnt": c, "x": 0, "y": 0,
                        "nx": 0, "ny": 0}))
                pend = inseg & ~differs & unknown
                if pend.any():
                    py, px = np.nonzero(pend)
                    rows = []
                    for dy, dx in offs:
                        nb = pad[1 + dy:h + 1 + dy, 1 + dx:w + 1 + dx]
                        m = nb[py, px] == -1
                        if not m.any():
                            continue
                        rows.append(pd.DataFrame({
                            "image_id": row.image_id, "kind": "pend",
                            "seg_id": seg[py[m], px[m]], "cnt": 0,
                            "x": (px[m] + row.xout).astype(np.int32),
                            "y": (py[m] + row.yout).astype(np.int32),
                            "nx": (px[m] + dx + row.xout)
                            .astype(np.int32),
                            "ny": (py[m] + dy + row.yout)
                            .astype(np.int32)}))
                    frames.extend(rows)
                # ring info: the outermost ring's seg ids (incl. 0)
                ring = np.zeros((h, w), dtype=bool)
                ring[0, :] = ring[-1, :] = True
                ring[:, 0] = ring[:, -1] = True
                ry, rx = np.nonzero(ring)
                frames.append(pd.DataFrame({
                    "image_id": row.image_id, "kind": "info",
                    "seg_id": seg[ry, rx], "cnt": 0,
                    "x": (rx + row.xout).astype(np.int32),
                    "y": (ry + row.yout).astype(np.int32),
                    "nx": 0, "ny": 0}))
            yield (pd.concat(frames, ignore_index=True)[cols]
                   if frames else pd.DataFrame(columns=cols))

    # three consumers (partials / pending / ring info): checkpoint the
    # compact output so the tile kernel runs exactly once; unlike
    # persist() nothing stays cached once the frame is dropped
    out = j.mapInPandas(kernel, part_schema).localCheckpoint(
        eager=False)
    partial = (out.filter(F.col("kind") == "cnt")
               .select("image_id", "seg_id", "cnt"))
    pend = (out.filter(F.col("kind") == "pend")
            .select("image_id", "seg_id", "x", "y", "nx", "ny"))
    info = (out.filter(F.col("kind") == "info")
            .select("image_id", F.col("x").alias("nx"),
                    F.col("y").alias("ny"),
                    F.col("seg_id").alias("nseg")))
    resolved = (pend.join(info, ["image_id", "nx", "ny"])
                .groupBy("image_id", "seg_id", "x", "y")
                .agg(F.max((F.col("nseg") != F.col("seg_id"))
                           .cast("int")).alias("is_edge"))
                .filter(F.col("is_edge") == 1)
                .groupBy("image_id", "seg_id")
                .agg(F.count(F.lit(1)).alias("cnt")))
    return (partial.unionByName(resolved)
            .groupBy("image_id", "seg_id")
            .agg(F.sum("cnt").alias("num_edge_pixels")))


def variogram_tiled(final_tiles, max_dist: int = 5, band: int = 0):
    """U1 at scale: the reference variogram (positive (dy, dx)
    offsets in 1..max_dist, truncated integer distance bins, RMS per
    bin) computed from the stitched tiles without the per-pixel
    shuffle. In-tile pairs become per-(segment, lag) partial
    (sum_dv2, cnt) rows inside one tile pass; the only exchanged
    pixels are the pairs that cross a tile boundary — each tile emits
    its top/left strips of width max_dist as (coord, seg, val) info
    rows and its bottom/right-border pixels as pending q-lookups,
    resolved by one coordinate equi-join. dv2 sums are integer-exact
    in float64, so the result is bitwise-equal to the per-segment UDF
    regardless of tile decomposition."""
    md = max_dist
    offs = [(dy, dx, int(np.sqrt(dy * dy + dx * dx)))
            for dy in range(1, md + 1) for dx in range(1, md + 1)]
    offs = [(dy, dx, d) for dy, dx, d in offs if d <= md]

    part_schema = ("image_id string, kind string, seg_id long, "
                   "lag int, s double, c long, val double, "
                   "nx int, ny int")
    cols = ["image_id", "kind", "seg_id", "lag", "s", "c", "val",
            "nx", "ny"]

    def kernel(batches):
        for pdf in batches:
            frames = []
            for row in pdf.itertuples(index=False):
                h, w = row.out_ysize, row.out_xsize
                seg = np.frombuffer(row.segdata, dtype="<i8").reshape(
                    h, w)
                pix = np.frombuffer(row.pixels, dtype="<u2").reshape(
                    row.nbands, h, w)
                val = pix[band].astype(np.float64)
                keys, dv2s = [], []
                pend = []
                for dy, dx, dist in offs:
                    sa, sb = seg[:-dy, :-dx], seg[dy:, dx:]
                    m = (sa == sb) & (sa > 0)
                    if m.any():
                        d = val[:-dy, :-dx][m] - val[dy:, dx:][m]
                        keys.append(sa[m] * np.int64(md)
                                    + np.int64(dist - 1))
                        dv2s.append(d * d)
                    # pending: p in tile, q beyond the right/bottom
                    # tile edge (q's in-image existence resolved by
                    # the inner join against the info strips)
                    q_out = ((np.arange(h)[:, None] + dy >= h)
                             | (np.arange(w)[None, :] + dx >= w))
                    py, px = np.nonzero((seg > 0) & q_out)
                    if len(py):
                        pend.append(pd.DataFrame({
                            "image_id": row.image_id, "kind": "pend",
                            "seg_id": seg[py, px],
                            "lag": np.int32(dist), "s": 0.0, "c": 0,
                            "val": val[py, px],
                            "nx": (px + dx + row.xout)
                            .astype(np.int32),
                            "ny": (py + dy + row.yout)
                            .astype(np.int32)}))
                if keys:
                    k = np.concatenate(keys)
                    d2 = np.concatenate(dv2s)
                    uk, inv = np.unique(k, return_inverse=True)
                    sums = np.bincount(inv, weights=d2)
                    cnts = np.bincount(inv)
                    frames.append(pd.DataFrame({
                        "image_id": row.image_id, "kind": "part",
                        "seg_id": uk // md,
                        "lag": (uk % md + 1).astype(np.int32),
                        "s": sums, "c": cnts.astype(np.int64),
                        "val": 0.0, "nx": 0, "ny": 0}))
                frames.extend(pend)
                # info strips: top md rows + left md cols (union)
                strip = np.zeros((h, w), dtype=bool)
                strip[:md, :] = True
                strip[:, :md] = True
                sy, sx = np.nonzero(strip)
                frames.append(pd.DataFrame({
                    "image_id": row.image_id, "kind": "info",
                    "seg_id": seg[sy, sx], "lag": 0, "s": 0.0,
                    "c": 0, "val": val[sy, sx],
                    "nx": (sx + row.xout).astype(np.int32),
                    "ny": (sy + row.yout).astype(np.int32)}))
            yield (pd.concat(frames, ignore_index=True)[cols]
                   if frames else pd.DataFrame(columns=cols))

    src = final_tiles.select("image_id", "xout", "yout", "out_xsize",
                             "out_ysize", "nbands", "pixels",
                             "segdata")
    out = src.mapInPandas(kernel, part_schema).localCheckpoint(
        eager=False)
    part = (out.filter(F.col("kind") == "part")
            .select("image_id", "seg_id", "lag", "s", "c"))
    pend = (out.filter(F.col("kind") == "pend")
            .select("image_id", "seg_id", "lag", "val", "nx", "ny"))
    info = (out.filter(F.col("kind") == "info")
            .select("image_id", F.col("nx").alias("inx"),
                    F.col("ny").alias("iny"),
                    F.col("seg_id").alias("iseg"),
                    F.col("val").alias("ival")))
    cross = (pend.join(info, (pend.image_id == info.image_id)
                       & (pend.nx == info.inx)
                       & (pend.ny == info.iny))
             .filter(F.col("iseg") == F.col("seg_id"))
             .select(pend.image_id.alias("image_id"), "seg_id", "lag",
                     ((F.col("val") - F.col("ival"))
                      * (F.col("val") - F.col("ival"))).alias("dv2"))
             .groupBy("image_id", "seg_id", "lag")
             .agg(F.sum("dv2").alias("s"),
                  F.count(F.lit(1)).alias("c")))
    merged = (part.unionByName(cross)
              .groupBy("image_id", "seg_id", "lag")
              .agg(F.sum("s").alias("s"), F.sum("c").alias("c")))
    lag_cols = [
        F.max(F.when(F.col("lag") == g,
                     F.sqrt(F.col("s") / F.col("c"))))
        .alias(f"variogram_{g}") for g in range(1, md + 1)]
    return merged.groupBy("image_id", "seg_id").agg(*lag_cols)


def edge_pixels_udf(four_connected: bool = True):
    """U3 (tilingstats.py:1145-1216): per-segment count of pixels
    with fewer than 4 (or 8) same-segment neighbours. Densifies the
    point list back to its bbox (the reference's
    convertPtsInto2DArray, tilingstats.py:1743-1792) then counts with
    shifted-mask sums."""

    def func(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(np.int64)
        y = pdf["y"].to_numpy(np.int64)
        x0, y0 = x.min(), y.min()
        mask = np.zeros((y.max() - y0 + 3, x.max() - x0 + 3),
                        dtype=bool)
        mask[y - y0 + 1, x - x0 + 1] = True
        offs = ([(-1, 0), (1, 0), (0, -1), (0, 1)] if four_connected
                else [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1),
                      (1, -1), (1, 0), (1, 1)])
        nbr = np.zeros(mask.shape, dtype=np.int32)
        for dy, dx in offs:
            nbr += np.roll(np.roll(mask, dy, 0), dx, 1)
        need = 4 if four_connected else 8
        edge = mask & (nbr < need)
        return pd.DataFrame([{
            "image_id": pdf["image_id"].iloc[0],
            "seg_id": pdf["seg_id"].iloc[0],
            "num_edge_pixels": int(edge.sum())}])

    return func, "image_id string, seg_id long, num_edge_pixels long"
