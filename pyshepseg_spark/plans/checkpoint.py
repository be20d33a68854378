"""Checkpoint/resume + lineage for the segmentation pipeline.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". The seg_tiles intermediate (S6 — the reference's temp tile
rasters, tiling.py:1471-1494) is persisted keyed by
(image_id, tcol, trow); a resumed run anti-joins completed tiles and
segments only the remainder, then unions. Idempotent: re-running a
completed checkpoint does zero kernel work.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

TILE_KEY = ["image_id", "tcol", "trow"]


def write_seg_tiles_checkpoint(seg_tiles, path: str):
    (seg_tiles.write.mode("append").parquet(path))


def resume_segment_tiles(spark, tiles_df, centres, cfg, ckpt_path):
    """Segment only tiles missing from the checkpoint; append them;
    return the full seg_tiles from the checkpoint."""
    from ..operators.segment import segment_tiles

    if _exists(spark, ckpt_path):
        done = spark.read.parquet(ckpt_path).select(*TILE_KEY)
        todo = tiles_df.join(done, TILE_KEY, "left_anti")
    else:
        todo = tiles_df
    if todo.limit(1).count() > 0:
        fresh = segment_tiles(todo, centres, cfg)
        write_seg_tiles_checkpoint(fresh, ckpt_path)
    return spark.read.parquet(ckpt_path)


def _exists(spark, path: str) -> bool:
    if path.startswith("/") or path.startswith("file:"):
        p = path.replace("file:", "")
        return os.path.exists(p) and bool(os.listdir(p))
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(conf)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(path))


class LineageLog:
    """Per-stage lineage + metrics rows (north rule). Collected on
    the driver, persisted as a table next to the checkpoint."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows = []

    def record(self, stage: str, **metrics):
        self.rows.append({"run_id": self.run_id, "stage": stage,
                          "ts": time.time(),
                          "metrics": json.dumps(metrics)})

    def to_df(self, spark):
        from pyspark.sql.types import (StringType, DoubleType,
                                       StructField, StructType)
        schema = StructType([
            StructField("run_id", StringType()),
            StructField("stage", StringType()),
            StructField("ts", DoubleType()),
            StructField("metrics", StringType())])
        return spark.createDataFrame(self.rows, schema)

    def write(self, spark, path: str):
        self.to_df(spark).write.mode("append").parquet(path)


def run_segmentation_checkpointed(spark, images_df, cfg, ckpt_dir,
                                  run_id="run"):
    """Full pipeline with checkpoint-resume and a lineage log.

    Returns (final_tiles_df, lineage). Stage-1 output is durable; the
    stitch re-derives from it (stitch is cheap relative to kernels
    and deterministic, so re-running it on resume is safe)."""
    from ..operators.segment import stitch
    from ..operators.tiling import explode_tiles, tile_metrics

    lin = LineageLog(run_id)
    t0 = time.time()
    tiles = explode_tiles(images_df, cfg.tile_size, cfg.overlap,
                          fit_cfg=cfg,
                          on_decode_error=cfg.on_decode_error)
    seg_tiles = resume_segment_tiles(
        spark, tiles, None, cfg, os.path.join(ckpt_dir, "seg_tiles"))
    lin.record("segment", wall_s=time.time() - t0)
    t1 = time.time()
    final = stitch(seg_tiles, cfg)
    lin.record("stitch", wall_s=time.time() - t1)
    m = tile_metrics(seg_tiles).agg(
        F.sum("n_tiles").alias("tiles"),
        F.sum("kernel_secs").alias("kernel_secs")).collect()[0]
    lin.record("totals", tiles=int(m["tiles"] or 0),
               kernel_secs=float(m["kernel_secs"] or 0.0))
    return final, lin
