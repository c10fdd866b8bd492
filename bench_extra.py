"""Round-6 auxiliary benchmarks (bench.py is FROZEN for measurement —
extra evidence lives here, cited from OPTIMIZATION_r06.md).

1. Z-order read-path payoff (VERDICT r5 item 2): write the bench's
   derived points table twice — naive layout vs ``cluster_by_z`` — and
   time the same small-bbox count against both, with files-read
   evidence from the parquet footers. The answer is oracle-class
   (exact count, asserted equal between layouts); only the LAYOUT
   differs, demonstrating the GiST-analog scan pruning on the bench's
   own data.

2. Noop-sink component timings (guide §1.4) for the headline pipeline
   stages, so plan claims in OPTIMIZATION_r06.md are reproducible.

Usage: python bench_extra.py  → one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from changesetmd_spark import entry_queries as EQ  # noqa: E402
from changesetmd_spark.functions import geo, s2  # noqa: E402
from changesetmd_spark.operators import spatial_join as sj  # noqa: E402
from changesetmd_spark.plans.zorder import cluster_by_z  # noqa: E402
from changesetmd_spark.session import get_spark  # noqa: E402

BBOX = (37.0, 39.5, -5.0, -1.0)  # small query window (lat_lo, lat_hi, lon_lo, lon_hi)


def files_prunable(path: str, bbox) -> tuple[int, int]:
    """(files a stats-aware scan must read, total files) from footers."""
    import pyarrow.parquet as pq

    lat_lo, lat_hi, lon_lo, lon_hi = bbox
    total = must_read = 0
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        total += 1
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        overlaps = False
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            la = g.column(names["lat"]).statistics
            lo = g.column(names["lon"]).statistics
            if la is None or lo is None:
                overlaps = True
                break
            if not (la.max < lat_lo or la.min > lat_hi or lo.max < lon_lo or lo.min > lon_hi):
                overlaps = True
                break
        must_read += overlaps
    return must_read, total


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="bench_extra", extra_conf={"spark.sql.files.maxPartitionBytes": "33554432"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}

    # -- 1. Z-order clustered vs naive bbox scan -----------------------
    points = EQ.points_from_orders(EQ.load(spark, sf_dir, "orders"))
    root = tempfile.mkdtemp(prefix="zorder_bench_")
    naive_p = os.path.join(root, "naive")
    zed_p = os.path.join(root, "zed")
    points.repartition(32).write.mode("overwrite").parquet(naive_p)
    cluster_by_z(points, "lat", "lon", 32).write.mode("overwrite").parquet(zed_p)
    lat_lo, lat_hi, lon_lo, lon_hi = BBOX
    pred = (
        (F.col("lat") >= lat_lo) & (F.col("lat") <= lat_hi)
        & (F.col("lon") >= lon_lo) & (F.col("lon") <= lon_hi)
    )
    counts = {}
    for tag, path in (("naive", naive_p), ("zorder", zed_p)):
        spark.sparkContext.setJobDescription(f"bbox scan: {tag}")
        ts = []
        for _ in range(5):
            t0 = time.time()
            counts[tag] = spark.read.parquet(path).filter(pred).count()
            ts.append(round(time.time() - t0, 4))
        must, total = files_prunable(path, BBOX)
        out[f"zorder_{tag}"] = {
            "bbox_count": counts[tag],
            "scan_sec_min": min(ts),
            "scan_sec": ts,
            "files_read": must,
            "files_total": total,
        }
    assert counts["naive"] == counts["zorder"], "layouts must agree on the answer"
    shutil.rmtree(root, ignore_errors=True)

    # -- 2. headline component isolation (noop sink, guide §1.4) -------
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    boxes = EQ.boxes_from_customer(customer)
    import bench as B

    orders_n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    img_path = B.ensure_images(spark, sf_dir, orders_n * B.IMAGES_PER_ORDER)
    images = spark.read.parquet(img_path)
    slim = images.select(
        "image_id",
        geo.clamp_lat(geo.phash_to_lat(F.col("phash"))).alias("lat"),
        geo.phash_to_lon(F.col("phash")).alias("lon"),
    )
    joined = sj.contains_join(slim, boxes, res=3)
    stages = {
        "scan_geotag": slim,
        "cover_join": joined,
        "join_s2": joined.withColumn("s2_cell", s2.s2_cell(F.col("lat"), F.col("lon"), 12)),
    }
    for tag, df in stages.items():
        spark.sparkContext.setJobDescription(f"component: {tag}")
        ts = []
        for _ in range(3):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
        out[f"component_{tag}"] = min(ts)
    spark.sparkContext.setJobDescription(None)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
