"""End-to-end payload invariant (BASELINE.json input_hint): after the
full geotag → cell → spatial-join pipeline, every surviving row's
decoded pixels are exact (lossless) or ≥ 40 dB PSNR (lossy) vs the
source, and captions are byte-identical."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from changesetmd_spark import synth
from changesetmd_spark.operators import multimodal as mm
from changesetmd_spark.operators import spatial_join as sj


def test_pipeline_preserves_pixels_and_captions(spark):
    images = synth.images(spark, 500, width=8, height=8)
    src = {
        r.image_id: (r.caption, r.phash, r.fmt)
        for r in images.select("image_id", "caption", "phash", "fmt").collect()
    }
    # wide boxes so a decent fraction of images match
    rng = np.random.default_rng(3)
    boxes = spark.createDataFrame(
        pd.DataFrame(
            {
                "box_id": range(30),
                "min_lat": rng.uniform(-80, 40, 30),
                "max_lat": 0.0,
                "min_lon": rng.uniform(-170, 90, 30),
                "max_lon": 0.0,
            }
        ).assign(
            max_lat=lambda d: d.min_lat + rng.uniform(5, 30, 30),
            max_lon=lambda d: d.min_lon + rng.uniform(5, 30, 30),
        )
    )
    out = sj.assign_images(images, boxes, res=3, keep_payload=True)
    rows = out.select("image_id", "bytes", "caption", "fmt").collect()
    assert len(rows) > 50  # meaningful sample survived the join
    for r in rows:
        caption, phash, fmt = src[r.image_id]
        assert r.caption == caption  # caption equality, per row
        dfmt, w, h, px = mm.decode_blob(bytes(r.bytes))
        assert dfmt == fmt
        truth = synth.pixels_for_phash(np.array([phash]), 8, 8)[0]
        if fmt == "fraw":
            assert (px == truth).all()
        else:
            assert mm.psnr_db(px, truth) >= 40.0
