"""Benchmark runner (driver contract + BASELINE.json metric).

Headline: images/sec of the full spatial-join + tile-assign pipeline
over a synthesized image+caption table (BASELINE.json north_star):
parquet scan → payload prune (columnar: bytes never leave the scan) →
phash geotag → clamp → hex-cell + S2 encode → broadcast cover join
against polygon envelopes → slippy-tile assignment → per-box rollup.

Also times the headline gated queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The session runs no warm-up, so in a full run each per-query time is
that query's first run in the session and includes its codegen/JIT.
The headline is the faster of two passes.

Prints ONE JSON line:
  {"metric": ..., "value": <headline pipeline sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "images_per_sec": ..., "n_images": ..., "cpus": ...,
   "lsh_candidates": {...per LSH gate, rows out of its bucket self-join...}}

Scaling evidence (local[8] vs local[32]) is produced by
tools/run_scaling.py which invokes this file twice.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from changesetmd_spark import entry_queries as EQ  # noqa: E402
from changesetmd_spark import synth  # noqa: E402
from changesetmd_spark.functions import geo, s2  # noqa: E402
from changesetmd_spark.operators import spatial_join as sj  # noqa: E402
from changesetmd_spark.profile import lsh_candidates  # noqa: E402
from changesetmd_spark.session import get_spark  # noqa: E402

IMAGES_PER_ORDER = 40  # bench images table = 40× orders rows (6M @ sf0.1)
BENCH_QUERIES = [
    "spatial_contains_count",
    "spatial_contains_pairs",
    "polygon_contains",
    "hex_rollup",
    "knn",
    "tile_overlay",
    "exact_dedup",
    "phash_neardup",
    "ngram_jaccard",
    "minhash_lsh",
    "simhash",
    "text_features",
    "bpe_tokens",
    "token_packing",
    "corpus_pipeline",
    "cosine_topk",
    "ann_lsh",
    "ann_multiprobe",
    "ann_ivf",
    "embed_neardup",
    "image_decode",
    "image_embed",
    "video_frames",
    "audio_features",
    "map_lookup",
    "spatial_wrap",
    "moving_window",
    "quantiles",
    "event_windows",
    "sessionize",
    "key_join_rollup",
    "merge_upsert",
]


def images_path(sf_dir: str, n: int) -> str:
    cache = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    tag = sf_dir.rstrip("/").split("/")[-1]
    return os.path.join(cache, f"images_{tag}_{n}.parquet")


def ensure_images(spark, sf_dir: str, n: int) -> str:
    path = images_path(sf_dir, n)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        synth.images(spark, n).repartition(192).write.mode("overwrite").parquet(path)
    return path


def spatial_pipeline(spark, images_parquet: str, sf_dir: str):
    """The headline job. Returns (n_images, result_row_count, seconds)."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    boxes = EQ.boxes_from_customer(customer)
    images = spark.read.parquet(images_parquet)

    # NOTE image_id is selected here but never used downstream: Catalyst
    # column-prunes it out of the scan (ReadSchema: struct<phash:bigint>,
    # see BENCH/BASELINE.md "bytes-per-row" audit) — the hot path reads
    # 8 bytes/row and carries only numeric columns through join+rollup.
    slim = images.select(
        "image_id",
        geo.clamp_lat(geo.phash_to_lat(F.col("phash"))).alias("lat"),
        geo.phash_to_lon(F.col("phash")).alias("lon"),
    )

    # res=3 measured optimal for this box-size mix (see commit log):
    # cover 97 cells/box; res=4 quadruples build size, res=2 doubles
    # refine candidates. Two exact countDistincts would triple the
    # aggregate's shuffle (expand) — approx_count_distinct keeps the
    # rollup single-pass, which is also the honest 100 TB choice.
    joined = sj.contains_join(slim, boxes, res=3)
    # S2 encode AFTER the join: the Arrow/Python stage then sees only
    # joined rows — measured ~2.5% faster here (join output ≈ input at
    # this box mix) and strictly better wherever the join is selective
    joined = joined.withColumn("s2_cell", s2.s2_cell(F.col("lat"), F.col("lon"), 12))
    tiled = joined.withColumn(
        "tile",
        geo.tile_id(geo.tile_x(F.col("lon"), 12), geo.tile_y(F.col("lat"), 12), 12),
    )
    out = tiled.groupBy("box_id").agg(
        F.count("*").alias("n_images"),
        F.approx_count_distinct("tile").alias("n_tiles"),
        F.approx_count_distinct("s2_cell").alias("n_s2"),
    )
    t0 = time.time()
    n_rows = out.count()
    dt = time.time() - t0
    n_images = images.count()
    return n_images, n_rows, dt


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    headline_only = os.environ.get("SPARK_GRAFT_HEADLINE_ONLY") == "1"
    # comma-separated subset for the per-query scaling ladder
    # (tools/run_scaling.py --queries); unset = full driver contract
    only = os.environ.get("SPARK_GRAFT_QUERIES")
    bench_queries = [q for q in only.split(",") if q] if only else BENCH_QUERIES
    skip_headline = bool(only)
    tag = sf_dir.rstrip("/").split("/")[-1]
    try:
        sf = float(tag.replace("sf", ""))
    except ValueError:
        sf = 0.0  # non-sf input dir (e.g. the scaled-ladder twin)
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        # 32 MB scan splits: the bench table is a few GB, and the
        # default 128 MB splits would bin-pack it into ~10 partitions —
        # starving >8-way parallelism (this is a *small-input* tuning;
        # at 100 TB the default is right)
        extra_conf={"spark.sql.files.maxPartitionBytes": "33554432"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    orders_n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    n_images = orders_n * IMAGES_PER_ORDER

    if skip_headline:
        n_img, n_rows, headline_sec = n_images, 0, 0.0
        timings: dict[str, float] = {}
    else:
        img_path = ensure_images(spark, sf_dir, n_images)

        # warm the JVM/code paths once with a trivial action
        spark.read.parquet(img_path).select("image_id").limit(10).count()

        # two iterations, report the min (first run pays codegen/JIT warmup)
        n_img, n_rows, t1 = spatial_pipeline(spark, img_path, sf_dir)
        _, _, t2 = spatial_pipeline(spark, img_path, sf_dir)
        headline_sec = min(t1, t2)
        timings = {"spatial_pipeline": round(headline_sec, 3)}

    queries = EQ.QUERIES
    # banded-LSH gates: rows out of each one's bucket self-join are read
    # from the timed run's own executed plan
    LSH_GATES = {"phash_neardup", "minhash_lsh", "simhash", "embed_neardup"}
    candidates: dict[str, int] = {}
    if not headline_only:
        # query-subset mode (per-query scaling ladder): no headline
        # warmup ran, so the first pass is dominated by JVM/codegen
        # warmup, not the operator — run the list twice and keep the
        # min per query (the full driver contract keeps single-pass
        # timings, comparable across rounds)
        passes = 2 if skip_headline else 1
        for _ in range(passes):
            for name in bench_queries:
                t0 = time.time()
                # exactly the plan df.count() runs, kept as a DataFrame
                # so its executed plan can be read after the action
                agg = queries[name](spark, sf_dir).groupBy().count()
                agg.collect()
                dt = round(time.time() - t0, 3)
                timings[name] = min(timings.get(name, dt), dt)
                if name in LSH_GATES:
                    candidates[name] = lsh_candidates(agg)

    result = {
        "metric": "spatial_join_tile_assign_pipeline",
        "value": round(headline_sec, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "images_per_sec": round(n_img / headline_sec, 1) if headline_sec else 0.0,
        "n_images": n_img,
        "matched_boxes": n_rows,
        "cpus": int(cpus),
        # rows out of each LSH gate's bucket self-join in the timed run
        # (profile.lsh_candidates)
        "lsh_candidates": candidates,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
