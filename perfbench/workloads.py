"""The benchmark workloads.

Each workload generates its inputs from the seed (``gen``), stages them
into a Spark session (``stage``), runs one op per call (``op``) and
checks that op's outputs (``check``). ``op`` calls the engine's public
operators; with a traced ``Tracer`` it calls the public stages those
operators are built from instead, each materialised on its own so it
can be timed.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

import checks
import gen
from spans import Tracer


class MosaicProbe:
    """One seeded mosaic segmented with global centres and painted
    (CLI ``segment --global-centres``), then per-segment stats (CLI
    ``stats``) and a dense point-in-segment probe over the stored
    final tiles."""

    name = "mosaic_probe"
    item = "tiles"
    size = 1024
    regions = 24          # fixed, so per-seed work differs only in layout
    tile_size, overlap = 256, 64
    points_per_image = 2000
    sample_px = 100_000
    probe_sample = 200

    def __init__(self, seed: int):
        from pyshepseg_spark.constants import IMG_NULL_VAL
        from pyshepseg_spark.operators.segment import SegConfig
        from pyshepseg_spark.operators.tiling import tile_grid
        from pyshepseg_spark.sources.codec import decode_image

        self.images = gen.images_pdf(1, self.size, seed, self.regions)
        self.points = gen.points_pdf(self.images, self.points_per_image,
                                     seed)
        row = self.images.iloc[0]
        self.cfg = SegConfig(
            num_clusters=int(row["num_clusters"]),
            img_null_val=IMG_NULL_VAL, tile_size=self.tile_size,
            overlap=self.overlap, sample_target_pixels=self.sample_px)
        self.decoded = {r.image_id: decode_image(r.bytes, r.fmt, r.w, r.h)
                        for r in self.images.itertuples(index=False)}
        self.valid = {k: (v != IMG_NULL_VAL).all(axis=0)
                      for k, v in self.decoded.items()}
        grids = {r.image_id: tile_grid(int(r.w), int(r.h), self.tile_size,
                                       self.overlap)
                 for r in self.images.itertuples(index=False)}
        self.grids = pd.DataFrame([(k, g[1], g[2]) for k, g in grids.items()],
                                  columns=["image_id", "ntc", "ntr"])
        self.items = sum(len(g[0]) for g in grids.values())
        rng = np.random.default_rng(seed * 31 + 7)
        self.sample_ids = np.sort(rng.choice(
            self.points_per_image, self.probe_sample, replace=False))
        self.stats_hash = None
        self.centres = None

    def stage(self, spark):
        self.images_df = _cached(spark.createDataFrame(
            self.images.drop(columns=["num_clusters"])))
        self.points_df = _cached(spark.createDataFrame(self.points))
        self.grids_df = _cached(spark.createDataFrame(self.grids))

    def op(self, tr: Tracer):
        from pyshepseg_spark.operators import segment, spatial, zonal

        cfg = self.cfg
        if tr.enabled:
            centres, final = self._segment_traced(tr)
        else:
            centres = segment.fit_global_centres(self.images_df, cfg)
            final = segment.segment_images_tiled(
                self.images_df, cfg, centres=centres)[0] \
                .localCheckpoint()
        self.centres = centres
        hist = tr.stage("zonal.hist_merge", lambda: zonal.
                        tile_value_histogram(final, cfg.img_null_val))
        stats = tr.collect("zonal.finalize",
                           lambda: zonal.segment_stats(hist))
        pis = tr.collect("spatial.pis", lambda: spatial.point_in_segment(
            self.points_df, final, cfg.tile_size, cfg.overlap,
            grids=self.grids_df))
        return {"final": final, "stats": stats, "pis": pis, "hist": hist}

    def _segment_traced(self, tr):
        """fit_global_centres + segment_images_tiled(centres=...) as
        their public stages (validate path: null value already set)."""
        from pyshepseg_spark.kernels.kmeans import (
            fit_spectral_clusters_sample)
        from pyshepseg_spark.operators import segment, tiling
        from pyshepseg_spark.operators.skew import spread_small_scan

        cfg, images = self.cfg, self.images_df
        x = tr.call("tiling.sample", lambda: tiling.collect_sample(
            tiling.stride_sample_pixels(images, cfg.sample_target_pixels,
                                        cfg.img_null_val)))
        centres = tr.call("kmeans.fit", lambda: fit_spectral_clusters_sample(
            x, cfg.num_clusters, cfg.fixed_kmeans_init))
        tr.call("tiling.validate",
                lambda: tiling.assert_integer_imagery(images))
        tiles = tr.stage("tiling.explode", lambda: spread_small_scan(
            tiling.explode_tiles(images, cfg.tile_size, cfg.overlap)))
        seg_tiles = tr.stage("segment.kernel_stage",
                             lambda: segment.segment_tiles(tiles, centres,
                                                           cfg))
        with tr.span("segment.checkpoint"):
            st, meta = segment.checkpoint_with_meta(seg_tiles)
            meta = meta.localCheckpoint(eager=True)
        mapping = tr.stage("segment.stitch_mapping",
                           lambda: segment.sequential_stitch_mapping(
                               meta, cfg.overlap))
        final = tr.stage("segment.paint", lambda: segment.paint_final_tiles(
            st, mapping, cfg.overlap, img_null_val=cfg.img_null_val))
        self._traced = {"sample_px": len(x), "tiles": tiles,
                        "seg_tiles": seg_tiles, "meta": meta}
        return centres, final

    def check(self, out) -> list[str]:
        from pyshepseg_spark.operators.segment import assemble_image

        tiles = out["final"].select(
            "image_id", "xout", "yout", "out_xsize", "out_ysize",
            "segdata").toPandas()
        seg = {}
        fails = []
        for r in self.images.itertuples(index=False):
            seg[r.image_id] = assemble_image(
                tiles[tiles["image_id"] == r.image_id], int(r.w), int(r.h))
            fails += checks.mosaic_labels(seg[r.image_id],
                                          self.valid[r.image_id])
        labelled = {k: int(((seg[k] > 0) & v).sum())
                    for k, v in self.valid.items()}
        self.unlabelled = sum(int(v.sum()) for v in self.valid.values()) \
            - sum(labelled.values())
        fails += checks.stats_pixcount(out["stats"], labelled)
        h = checks.frame_hash(out["stats"])
        if self.stats_hash is None:
            self.stats_hash = h
        elif h != self.stats_hash:
            fails.append("stats differ from the first op's")
        fails += checks.probe_values(out["pis"], seg, self.sample_ids)
        return fails

    def layer_counts(self, out) -> dict[str, float]:
        """Counts of one traced op (taken after the op's timing)."""
        from pyshepseg_spark.operators.tiling import tile_metrics
        from pyspark.sql import functions as F

        t = self._traced
        m = tile_metrics(t["seg_tiles"]).agg(
            F.sum("n_local_segments"), F.sum("n_single_elim"),
            F.sum("n_small_elim"), F.sum("kernel_secs")).first()
        strip_bytes = t["meta"].select(sum(
            F.coalesce(F.length(c), F.lit(0))
            for c in ("strip_top", "strip_left", "strip_bottom",
                      "strip_right"))
            .alias("b")).agg(F.sum("b")).first()[0]
        pis = out["pis"]
        return {
            "kmeans.sample_px": t["sample_px"],
            "tiling.tiles": t["tiles"].count(),
            "shepherd.segments": m[0], "shepherd.single_elim": m[1],
            "shepherd.small_elim": m[2], "shepherd.seg_secs_sum": m[3],
            "segment.strip_bytes": strip_bytes,
            "segment.unlabelled_px": self.unlabelled,
            "zonal.hist_rows": out["hist"].count(),
            "spatial.points": len(pis),
            "spatial.tile_groups": out["final"].count() * 16,
            "spatial.hit_frac": float((pis["seg_id"] > 0).mean()),
        }

    def kernel_probes(self) -> dict[str, float]:
        """In-process kernel timings on this workload's own inputs."""
        from pyshepseg_spark.kernels.shepherd import (
            do_shepherd_segmentation)
        from pyshepseg_spark.operators.tiling import tile_grid
        from pyshepseg_spark.sources.codec import decode_image

        cfg = self.cfg
        dec = []
        for _ in range(3):
            t0 = time.perf_counter()
            for r in self.images.itertuples(index=False):
                decode_image(r.bytes, r.fmt, r.w, r.h)
            dec.append(time.perf_counter() - t0)
        img = next(iter(self.decoded.values()))
        tiles = tile_grid(img.shape[2], img.shape[1], cfg.tile_size,
                          cfg.overlap)[0]
        tile_s = []
        for (_, _, xp, yp, xs, ys) in tiles[::max(1, len(tiles) // 8)]:
            t0 = time.perf_counter()
            do_shepherd_segmentation(
                np.ascontiguousarray(img[:, yp:yp + ys, xp:xp + xs]),
                min_segment_size=cfg.min_segment_size,
                max_spectral_diff=cfg.max_spectral_diff,
                img_null_val=cfg.img_null_val,
                four_connected=cfg.four_connected, centres=self.centres,
                spect_dist_pcntile=cfg.spect_dist_pcntile,
                max_clump_size=cfg.max_clump_size)
            tile_s.append(time.perf_counter() - t0)
        return {"codec.decode_s": float(np.median(dec)),
                "codec.bytes_in": float(sum(len(b) for b in
                                            self.images["bytes"])),
                "shepherd.tile_s": float(np.median(tile_s))}


class NearDups:
    """Seeded corpus and embedding table with planted near-duplicates:
    MinHash LSH + exact n-gram verify, embedding LSH near-dups, and IVF
    top-k over the same vectors."""

    name = "near_dups"
    item = "documents+vectors"
    n_docs, n_vecs, dim = 2000, 2000, 64
    dup_share = 0.05
    n_queries, k, nprobe, n_cells = 32, 5, 2, 8
    text_thr, cos_thr = 0.8, 0.95
    # LSH settings: a planted pair at the low end of gen.DOC_JACCARD
    # (0.85) or gen.VEC_COSINE (0.96) is missed with probability under
    # 1e-5 (1 - (1 - p^rows)^bands), so a lost planted pair means the
    # banding or the verify broke, not bad luck
    num_hashes, hash_bands = 64, 16
    bits, bit_bands = 60, 12

    def __init__(self, seed: int):
        nd = int(self.n_docs * self.dup_share)
        nv = int(self.n_vecs * self.dup_share)
        self.docs = gen.documents_pdf(self.n_docs, nd, seed)
        self.emb = gen.embeddings_pdf(self.n_vecs, nv, self.dim, seed)
        self.texts = dict(zip(self.docs["doc_id"].astype(int),
                              self.docs["text"]))
        self.vecs = dict(zip(self.emb["vec_id"].astype(int),
                             self.emb["embedding"]))
        dup_docs = self.docs["doc_id"][self.docs["doc_id"]
                                       >= gen.DUP_OFFSET]
        self.doc_pairs = [(int(d) - gen.DUP_OFFSET, int(d))
                          for d in dup_docs]
        dup_vecs = self.emb["vec_id"][self.emb["vec_id"] >= gen.DUP_OFFSET]
        self.vec_pairs = [(int(v) - gen.DUP_OFFSET, int(v))
                          for v in dup_vecs]
        src = {a for a, _ in self.vec_pairs}
        self.queries = [v for v in range(self.n_vecs)
                        if v not in src][:self.n_queries]
        self.items = len(self.docs) + len(self.emb)

    def stage(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)

        self.docs_df = _cached(spark.createDataFrame(self.docs))
        schema = StructType([StructField("vec_id", LongType()),
                             StructField("embedding",
                                         ArrayType(FloatType()))])
        self.emb_df = _cached(spark.createDataFrame(self.emb, schema))
        self.q_df = self.emb_df.filter(
            F.col("vec_id").isin(self.queries)).select(
            F.col("vec_id").alias("q_id"), "embedding")

    def op(self, tr: Tracer):
        from pyshepseg_spark.operators import dedup, similarity

        d, e = self.docs_df, self.emb_df
        sigs = tr.stage("dedup.signatures", lambda: dedup.
                        minhash_signatures_md5(
                            d, num_hashes=self.num_hashes,
                            k=gen.SHINGLE_K))
        cand = tr.stage("dedup.lsh_pairs", lambda: dedup.minhash_lsh_pairs(
            sigs, num_hashes=self.num_hashes, bands=self.hash_bands)
            .select("a", "b"))
        text = tr.collect("dedup.verify", lambda: dedup.ngram_jaccard_pairs(
            d, cand, k=gen.SHINGLE_K, threshold=self.text_thr))
        vec = tr.collect("dedup.emb_near_dups", lambda: dedup.
                         embedding_near_dups(e, threshold=self.cos_thr,
                                             bits=self.bits,
                                             bands=self.bit_bands))
        cent = tr.call("similarity.train", lambda: similarity.
                       train_ivf_centroids(e, n_cells=self.n_cells))
        topk = tr.collect("similarity.topk", lambda: similarity.ivf_topk(
            self.q_df, e, cent, k=self.k, nprobe=self.nprobe))
        return {"cand": cand, "text": text, "vec": vec, "topk": topk}

    def check(self, out) -> list[str]:
        return (checks.text_pairs(out["text"], self.texts, self.doc_pairs,
                                  gen.SHINGLE_K, self.text_thr)
                + checks.vector_pairs(out["vec"], self.vecs,
                                      self.vec_pairs, self.cos_thr)
                + checks.topk_self(out["topk"], self.queries, self.k))

    def layer_counts(self, out) -> dict[str, float]:
        cand = out["cand"].count()
        verified = len(out["text"])
        return {"dedup.candidates": cand, "dedup.verified": verified,
                "dedup.verify_yield": verified / cand if cand else 0.0}

    def kernel_probes(self) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (MosaicProbe, NearDups)}


def _cached(df):
    df = df.cache()
    df.count()
    return df
