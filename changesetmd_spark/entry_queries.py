"""Driver-contract query registry (SURVEY.md §2 → queries()/oracle_sql()).

Each entry maps one operator from the inventory onto the driver's
testdata tables (region nation customer supplier part orders lineitem
events documents embeddings) with a DuckDB-runnable oracle. Geo roles
are played by *derived* coordinates computed with integer arithmetic +
one exact double division, so Spark and DuckDB produce bit-identical
doubles and the comparison is exact:

  points  (from orders):   lat = (o_orderkey·48271 mod 1800000)/1e4 − 90
                           lon = (o_orderkey·69621 mod 3600000)/1e4 − 180
  boxes   (from customer): center/span from c_custkey mod-arithmetic
  phash   (from orders):   hi·2^31 + lo with hi ∈ [0,2^32), lo ∈ [0,2^31)
                           — same bit-layout as synth.images

Float-aggregation rule: money sums CAST to DECIMAL before SUM in BOTH
engines (order-independent, exact); distance ranks quantized via
floor(dist·1e6) before row_number (stable across engines).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import StructType

from . import schemas
from .functions import geo
from .operators import dedup as dedup_ops
from .operators import knn as knn_ops
from .operators import multimodal
from .operators import overlay as overlay_ops
from .plans import strategy as plan_strategy
from .operators import sampling as sampling_ops
from .operators import similarity as sim_ops
from .operators import spatial_join as sj
from .operators import text as text_ops

# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------

def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Registry table ``name`` read with its declared schema
    (``schemas.REGISTRY``), so Spark runs no schema-inference job. The
    DataFrame has exactly the columns of the table's first data file,
    typed as declared; a column the file lacks is absent, and a gate
    that reads it fails at analysis, naming it."""
    path = f"{sf_dir}/{name}.parquet"
    return spark.read.schema(_file_schema(name, path)).parquet(path)


def _file_schema(name: str, path: str) -> StructType:
    """The declared fields of the columns in ``path``'s first data file
    footer, in file order (the one footer Spark's inference would
    read). Raises ValueError naming the table, the column and both
    types when a file column is undeclared or has another type;
    nullability is not compared. The footer is read with pyarrow, so
    ``path`` is local or a URI pyarrow's filesystems open."""
    if name not in schemas.REGISTRY:
        raise ValueError(f"{name} is not a registry table")
    declared = schemas.REGISTRY[name]
    fs, first = pafs.FileSystem.from_uri(path if "://" in path else os.path.abspath(path))
    if fs.get_file_info(first).type == pafs.FileType.Directory:
        files = sorted(
            f.path
            for f in fs.get_file_info(pafs.FileSelector(first))
            if f.type == pafs.FileType.File and not f.base_name.startswith(("_", "."))
        )
        if not files:
            raise FileNotFoundError(f"{name}: no data file in {path}")
        first = files[0]
    fields = []
    for col in pq.read_schema(first, filesystem=fs):
        got = from_arrow_type(col.type, prefer_timestamp_ntz=True).simpleString()
        if col.name not in declared.fieldNames():
            raise ValueError(f"{name}: column {col.name} ({got}) in {first} is not declared")
        want = declared[col.name]
        if got != want.dataType.simpleString():
            raise ValueError(
                f"{name}: column {col.name} is {got} in {first}, "
                f"declared {want.dataType.simpleString()}"
            )
        fields.append(want)
    return StructType(fields)


def points_from_orders(orders: DataFrame) -> DataFrame:
    """(point_id, lat, lon) — slim projection, geotag via integer math."""
    k = F.col("o_orderkey")
    return orders.select(
        k.alias("point_id"),
        (F.pmod(k * 48271, F.lit(1800000)) / F.lit(10000.0) - F.lit(90.0)).alias("lat"),
        (F.pmod(k * 69621, F.lit(3600000)) / F.lit(10000.0) - F.lit(180.0)).alias("lon"),
    )


POINTS_SQL = """
SELECT o_orderkey AS point_id,
       (o_orderkey * 48271 % 1800000) / 10000.0 - 90.0  AS lat,
       (o_orderkey * 69621 % 3600000) / 10000.0 - 180.0 AS lon
FROM orders
"""


def boxes_from_customer(customer: DataFrame) -> DataFrame:
    k = F.col("c_custkey")
    c_lat = F.pmod(k * 911, F.lit(1700)) / F.lit(10.0) - F.lit(85.0)
    c_lon = F.pmod(k * 541, F.lit(3500)) / F.lit(10.0) - F.lit(175.0)
    s_lat = F.pmod(k, F.lit(40)) / F.lit(10.0) + F.lit(0.05)
    s_lon = F.pmod(k, F.lit(37)) / F.lit(10.0) + F.lit(0.05)
    return customer.select(
        k.alias("box_id"),
        (c_lat - s_lat).alias("min_lat"),
        (c_lat + s_lat).alias("max_lat"),
        (c_lon - s_lon).alias("min_lon"),
        (c_lon + s_lon).alias("max_lon"),
    )


BOXES_SQL = """
SELECT c_custkey AS box_id,
       ((c_custkey * 911 % 1700) / 10.0 - 85.0)  - ((c_custkey % 40) / 10.0 + 0.05) AS min_lat,
       ((c_custkey * 911 % 1700) / 10.0 - 85.0)  + ((c_custkey % 40) / 10.0 + 0.05) AS max_lat,
       ((c_custkey * 541 % 3500) / 10.0 - 175.0) - ((c_custkey % 37) / 10.0 + 0.05) AS min_lon,
       ((c_custkey * 541 % 3500) / 10.0 - 175.0) + ((c_custkey % 37) / 10.0 + 0.05) AS max_lon
FROM customer
"""


def boxes_from_supplier(supplier: DataFrame) -> DataFrame:
    k = F.col("s_suppkey")
    c_lat = F.pmod(k * 733, F.lit(1600)) / F.lit(10.0) - F.lit(80.0)
    c_lon = F.pmod(k * 389, F.lit(3400)) / F.lit(10.0) - F.lit(170.0)
    s_lat = F.pmod(k, F.lit(60)) / F.lit(10.0) + F.lit(0.05)
    s_lon = F.pmod(k, F.lit(53)) / F.lit(10.0) + F.lit(0.05)
    return supplier.select(
        k.alias("box_id"),
        (c_lat - s_lat).alias("min_lat"),
        (c_lat + s_lat).alias("max_lat"),
        (c_lon - s_lon).alias("min_lon"),
        (c_lon + s_lon).alias("max_lon"),
    )


SUPPLIER_BOXES_SQL = """
SELECT s_suppkey AS box_id,
       ((s_suppkey * 733 % 1600) / 10.0 - 80.0)  - ((s_suppkey % 60) / 10.0 + 0.05) AS min_lat,
       ((s_suppkey * 733 % 1600) / 10.0 - 80.0)  + ((s_suppkey % 60) / 10.0 + 0.05) AS max_lat,
       ((s_suppkey * 389 % 3400) / 10.0 - 170.0) - ((s_suppkey % 53) / 10.0 + 0.05) AS min_lon,
       ((s_suppkey * 389 % 3400) / 10.0 - 170.0) + ((s_suppkey % 53) / 10.0 + 0.05) AS max_lon
FROM supplier
"""

# Oracle containment predicate on *valid* boxes (the synthetic customer
# boxes are already valid; normalize_boxes is identity on them).
_CONTAINS_PRED = (
    "p.lat >= b.min_lat AND p.lat <= b.max_lat "
    "AND p.lon >= b.min_lon AND p.lon <= b.max_lon"
)


# ---------------------------------------------------------------------------
# query implementations — (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def orders_phash(k: str = "o_orderkey") -> str:
    """Spark SQL text of the shared 63-bit phash derivation
    (hi·2^31 + lo) over the integer expression ``k`` — one definition,
    four consumers (image decode/embed builders, audio builder,
    lat_clamp, and phash_neardup's group phash)."""
    return (
        f"pmod({k} * 2654435761, 4294967296) * 2147483648"
        f" + pmod({k} * 104729 + 42, 2147483648)"
    )


def q_spatial_contains_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 flagship: images-per-polygon counts via cover join."""
    points = plan_strategy.widen_if_narrow(
        points_from_orders(load(spark, sf_dir, "orders"))
    )
    boxes = boxes_from_customer(load(spark, sf_dir, "customer"))
    # the cover join broadcasts only (hex_cell, box_id) pairs, then
    # refines via a second broadcast join on the raw box table — the
    # same plan the headline pipeline ships
    pairs = sj.contains_join(points, boxes, res=3)
    return pairs.groupBy("box_id").agg(F.count("*").alias("n_points"))


def q_spatial_contains_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 exact pair parity (no aggregation hiding mistakes)."""
    points = plan_strategy.widen_if_narrow(
        points_from_orders(load(spark, sf_dir, "orders"))
    )
    boxes = boxes_from_customer(load(spark, sf_dir, "customer"))
    return sj.contains_join(points, boxes, res=3).select("point_id", "box_id")


def q_spatial_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 via the shuffle+salting path (same answer, different plan)."""
    points = plan_strategy.widen_if_narrow(
        points_from_orders(load(spark, sf_dir, "orders"))
    )
    boxes = boxes_from_customer(load(spark, sf_dir, "customer"))
    pairs = sj.contains_join(
        points, boxes, res=3, salt_buckets=8, point_salt_key="point_id"
    )
    return pairs.groupBy("box_id").agg(F.count("*").alias("n_points"))


def wrapping_boxes_from_supplier(supplier: DataFrame) -> DataFrame:
    """Boxes centered near the antimeridian (±180°): edges computed in
    wrapped coordinates, so boxes crossing the seam arrive with
    min_lon > max_lon — the geographic wrap convention. Integer-exact
    arithmetic, identical in the oracle."""
    k = F.col("s_suppkey")
    c_lat = F.pmod(k * 733, F.lit(1600)) / F.lit(10.0) - F.lit(80.0)
    c_lon = F.lit(170.0) + F.pmod(k * 7, F.lit(200)) / F.lit(10.0)  # 170..190
    s_lat = F.pmod(k, F.lit(60)) / F.lit(10.0) + F.lit(0.05)
    s_lon = F.pmod(k, F.lit(50)) / F.lit(10.0) + F.lit(1.5)  # up to ~6.5°
    wrap = lambda x: F.pmod(x + 180.0, F.lit(360.0)) - 180.0  # noqa: E731
    return supplier.select(
        k.alias("box_id"),
        (c_lat - s_lat).alias("min_lat"),
        (c_lat + s_lat).alias("max_lat"),
        wrap(c_lon - s_lon).alias("min_lon"),
        wrap(c_lon + s_lon).alias("max_lon"),
    )


WRAPPING_BOXES_SQL = """
SELECT s_suppkey AS box_id,
       ((s_suppkey * 733 % 1600) / 10.0 - 80.0) - ((s_suppkey % 60) / 10.0 + 0.05) AS min_lat,
       ((s_suppkey * 733 % 1600) / 10.0 - 80.0) + ((s_suppkey % 60) / 10.0 + 0.05) AS max_lat,
       ((((170.0 + (s_suppkey * 7 % 200) / 10.0) - ((s_suppkey % 50) / 10.0 + 1.5)) + 180.0) % 360.0 + 360.0) % 360.0 - 180.0 AS min_lon,
       ((((170.0 + (s_suppkey * 7 % 200) / 10.0) + ((s_suppkey % 50) / 10.0 + 1.5)) + 180.0) % 360.0 + 360.0) % 360.0 - 180.0 AS max_lon
FROM supplier
"""


def q_spatial_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Antimeridian containment gate: wrapping boxes (min_lon >
    max_lon ⇒ crosses ±180°) split into non-wrapping halves
    (split_antimeridian), then the standard cell-cover containment
    join. Each half carries its own key (2·box_id + half), so the
    count groups by the original id, ``box_id >> 1``. Oracle: direct
    OR-condition wraparound predicate — so the split+join path is
    verified against the straight geographic semantics."""
    points = plan_strategy.widen_if_narrow(
        points_from_orders(load(spark, sf_dir, "orders"))
    )
    wboxes = wrapping_boxes_from_supplier(load(spark, sf_dir, "supplier"))
    pairs = sj.contains_join(points, sj.split_antimeridian(wboxes), res=3)
    return pairs.groupBy(F.shiftright("box_id", 1).alias("box_id")).agg(
        F.count("*").alias("n_points")
    )


def q_count_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: filtered COUNT(*) (README.md:220-222)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") >= 25.0) & (F.col("l_returnflag") == "A"))
        .groupBy("l_linestatus")
        .agg(F.count("*").alias("n"))
    )


def q_json_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2/B3: key lookup into an open-schema map + prefix match
    (tags->'created_by' LIKE 'JOSM%', README.md:228). events.props
    plays the JSONB tags role."""
    ev = load(spark, sf_dir, "events")
    v = F.get_json_object(F.col("props"), "$.k")
    return (
        ev.filter(v.isNotNull() & v.startswith("1"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
    )


def q_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 MapType gate: build a real map<string,string> column with
    from_json (the ingest schema's tags shape, xml_ingest.py tag-map
    fold) and filter with map_contains_key + element_at — so MapType
    construction and key semantics themselves are cross-engine
    verified, not just JSON-string lookups (q_json_lookup)."""
    ev = load(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,string>")
    tagged = ev.withColumn("m", m)
    # try_element_at, not element_at: under ANSI mode (this engine's
    # default) element_at THROWS on a missing key, and conjunct
    # short-circuit order is not guaranteed — a props row without 'k'
    # must filter out, not crash
    v = F.try_element_at(F.col("m"), F.lit("k"))
    return (
        tagged.filter(
            F.map_contains_key(F.col("m"), "k") & v.startswith("2")
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.max(v).alias("max_v"),
        )
    )


def q_key_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: parent-child key join + money rollup (decimal-exact sums)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # integral-decimal arithmetic: price in cents × discount in percent
    # → every intermediate is an exact integer-valued decimal, so the
    # final cast to long has no rounding path in either engine.
    cents = F.col("l_extendedprice").cast("decimal(18,2)") * 100
    disc_pct = F.col("l_discount").cast("decimal(18,2)") * 100
    rev_q4 = cents * (F.lit(100) - disc_pct)  # currency × 10^4
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(rev_q4).cast("long").alias("revenue_q4"),
        )
    )


def q_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: time-range scan (b-tree on created_at → min-max pushdown)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-03-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-09-01").cast("date"))
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


def q_area_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: geodesic bbox-area filter (ST_Area<225 km² analog,
    README.md:186)."""
    boxes = boxes_from_customer(load(spark, sf_dir, "customer"))
    area = geo.bbox_area_km2(
        F.col("min_lat"), F.col("max_lat"), F.col("min_lon"), F.col("max_lon")
    )
    return boxes.filter(area < 300000.0).select("box_id")


def q_lat_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: out-of-range latitude sanity rule on the phash geotag."""
    orders = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    lat_raw = geo.phash_to_lat(F.expr(orders_phash()))
    return orders.select(
        k.alias("point_id"),
        F.floor(geo.clamp_lat(lat_raw) * 10000).alias("lat_q"),
        (F.abs(lat_raw) > 90.0).alias("was_out_of_range"),
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join — ring-accelerated with certified-exact fallback
    (knn_join_safe): queries whose k-th ring candidate lies within the
    ring guarantee keep the cheap answer; the rest (only at very
    sparse densities, e.g. sf0.001) re-run exactly. Gated against a
    GLOBAL brute-force kNN oracle — exact at every sf by
    construction."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    points = points_from_orders(orders)
    queries = boxes_from_customer(customer).filter(F.col("box_id") < 40).select(
        F.col("box_id").alias("query_id"),
        ((F.col("min_lat") + F.col("max_lat")) / F.lit(2.0)).alias("q_lat"),
        ((F.col("min_lon") + F.col("max_lon")) / F.lit(2.0)).alias("q_lon"),
    )
    # (res=2, rings=4): 61 cells/query with a ~290 km equator
    # guarantee. Round-5 re-measurement: the r3 "res=3/rings=3 is
    # faster" result was an artifact — its 73.5 km guarantee was BELOW
    # the sf0.1 5th-neighbor distances (27-107 km), so NO query
    # certified and the exact-fallback subplan ran for all 40 queries
    # every time; res=2/rings=4 (+ the √cos-tightened certificate)
    # certifies 38-40/40, so the fallback runs for at most the two
    # near-pole queries (where the lon-branch bound provably collapses)
    # and the ring answer is returned as-is. Results identical across
    # configs by the safe-join certificate.
    # The points are not repartitioned: an interleaved A/B showed the
    # plain scan faster than a repartition + checkpoint at BOTH sf0.1
    # and the 10× input (1.3-1.6s vs 1.4-2.9s / 1.2-1.4s vs 1.6-5.4s),
    # answers identical.
    out = knn_ops.knn_join_safe(queries, points, k=5, res=2, rings=4)
    return out.select(
        "query_id",
        "point_id",
        F.col("knn_rank").cast("long").alias("knn_rank"),
        F.floor(F.col("dist_km") * 1e6).alias("dist_qkm"),
    )


def q_tile_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-tile ↔ vector-bbox overlay: intersecting box pairs."""
    a = boxes_from_customer(load(spark, sf_dir, "customer"))
    b = boxes_from_supplier(load(spark, sf_dir, "supplier"))
    out = overlay_ops.overlay_join(a, b, zoom=6)
    return out.select(F.col("a_box_id").alias("cust_box"), F.col("b_box_id").alias("supp_box"))


def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup gate: clusters of 5 images share a group
    phash with ONE deterministically flipped bit each (pairwise hamming
    ≤ 2), so phash-band LSH must recover exactly the intra-group pairs;
    inter-group hashes are pseudorandom (hamming ≈ 31) and band
    collisions die in the refine. Oracle replicates the derivation and
    the banding 1:1."""
    orders = load(spark, sf_dir, "orders")
    base = orders_phash("((o_orderkey - 1) div 5)")
    imgs = orders.selectExpr(
        "o_orderkey AS img_key",
        f"({base}) ^ CAST(power(2.0D, pmod(o_orderkey, 59)) AS BIGINT) AS phash",
    )
    return dedup_ops.phash_neardup_pairs(imgs, id_col="img_key")


_PHASH_GATE_EXPR = (
    "xor((((o_orderkey - 1) // 5) * 2654435761 % 4294967296) * 2147483648"
    " + (((o_orderkey - 1) // 5) * 104729 + 42) % 2147483648,"
    " CAST(pow(2.0, o_orderkey % 59) AS BIGINT))"
)


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: md5 group, keep min doc_id."""
    return dedup_ops.exact_dedup(load(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (sparse inverted-index join)."""
    return dedup_ops.ngram_jaccard_pairs(plan_strategy.widen_if_narrow(load(spark, sf_dir, "documents")))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline (bands → candidates → exact refine)."""
    return dedup_ops.minhash_lsh_pairs(plan_strategy.widen_if_narrow(load(spark, sf_dir, "documents")))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (band buckets → hamming refine).
    NOT widened: interleaved A/B at sf0.1 (r5, tools note in
    BENCH/BASELINE.md) — the 64-vote aggregate is shuffle-bound, so
    the widening repartition costs more than the parallel scan buys
    (2.85s narrow vs 3.05s widened)."""
    return dedup_ops.simhash_pairs(load(spark, sf_dir, "documents"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution: MinHash-LSH near-dup PAIRS → connected
    components (min-label propagation) → every doc labeled with its
    cluster's canonical (minimum) id. Gated against a recursive-CTE
    transitive closure in DuckDB, so the full pairs→clusters chain —
    including transitivity the pairwise gates can't see — is checked
    end-to-end."""
    docs = plan_strategy.widen_if_narrow(load(spark, sf_dir, "documents"))
    pairs = dedup_ops.minhash_lsh_pairs(docs)
    return dedup_ops.dedup_clusters(docs.select("doc_id"), pairs)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language Bernoulli sample (corpus mixing):
    keep 60% en, 25% zh, 100% de, 5% everything else — exact
    cross-engine via integer md5-prefix thresholds."""
    docs = load(spark, sf_dir, "documents")
    out = sampling_ops.stratified_sample(
        docs, "lang", SAMPLE_FRACTIONS_PPM, id_col="doc_id", default_ppm=50_000
    )
    return out.select("doc_id", "lang")


SAMPLE_FRACTIONS_PPM = {"en": 600_000, "zh": 250_000, "de": 1_000_000}


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget corpus mixing: exactly min(40, |stratum|) docs per
    language, drawn by deterministic hash rank (uniform without
    replacement) — exact cross-engine via the shared (hash, id) total
    order."""
    docs = load(spark, sf_dir, "documents")
    return sampling_ops.quota_sample(docs, "lang", 40, id_col="doc_id").select(
        "doc_id", "lang"
    )


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID + quality features + rolling fingerprint per doc.
    NOT widened: pure narrow projection — repartition only adds a
    shuffle (0.30s narrow vs 0.41s widened, r5 A/B)."""
    feats = text_ops.quality_features("text")
    return load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"{text_ops.lang_id('text')} AS lang_pred",
        f"{text_ops.fingerprint('text')} AS fp",
        *[f"{e} AS {n}" for n, e in feats.items()],
    )


def q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline packing gate: contiguous token packing into
    2048-token bins, 32-way sharded (never a global sort)."""
    return text_ops.pack_contiguous(load(spark, sf_dir, "documents"), 2048, 32)


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data pipeline gate: quality filter (token
    count + punctuation ratio + language id) → exact dedup (md5 group,
    keep min id) → emit kept docs with fingerprint + token count. The
    oracle chains the identical stages in one SQL statement, so the
    COMPOSITION (filter before dedup, dedup before feature emit) is
    what the gate verifies.

    NOT widened (r5 re-measurement closing the r4 +20% regression):
    the pipeline is one narrow filter + one md5 groupBy — the widening
    repartition nearly doubled it (0.84s narrow vs 1.51s widened,
    interleaved A/B at sf0.1). Widening stays ONLY where the scan
    feeds heavy reused per-row compute (ngram/minhash inverted
    indexes: 2.1s widened vs 3.3s narrow)."""
    feats = text_ops.quality_features("text")
    kept = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "text",
        f"{text_ops.lang_id('text')} AS lang_pred",
        f"{text_ops.fingerprint('text')} AS fp",
        f"{feats['n_tokens']} AS n_tokens",
        f"{feats['punct_ratio_q']} AS punct_ratio_q",
    ).filter("n_tokens >= 5 AND punct_ratio_q < 2000 AND lang_pred = 'en'")
    winners = kept.groupBy(F.expr("md5(text) AS _h")).agg(F.expr("min(doc_id) AS doc_id"))
    return (
        kept.join(winners.select("doc_id"), "doc_id", "left_semi")
        .select("doc_id", "fp", "n_tokens")
    )


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenizer gate (task brief: whitespace + a BPE-ish
    regex): per-doc subword count, distinct-subword count, and an
    order-independent md5-hash checksum of the token multiset — so the
    tokenizer's exact split (unicode included) is cross-engine
    verified, not just its count."""
    toks = text_ops.bpe_tokens("text")
    hashes = f"transform({toks}, t -> {text_ops.token_hash('t')})"
    return load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"CAST(size({toks}) AS BIGINT) AS n_bpe",
        f"CAST(size(array_distinct({toks})) AS BIGINT) AS n_distinct_bpe",
        f"aggregate({hashes}, CAST(0 AS BIGINT), (acc, h) -> acc + h) AS bpe_fp",
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k over embeddings (integer-quantized)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return sim_ops.cosine_topk(queries, emb, k=10)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN top-k (scale path, bucket equi-join)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return sim_ops.ann_lsh_topk(queries, emb, k=10)


def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: per table, also probe the query's
    lowest-margin flipped bucket (query side only — recall like 2×
    the tables at zero extra index size)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return sim_ops.ann_lsh_topk(queries, emb, k=10, multiprobe=True)


def _augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ planted near-duplicates: for vec_id < 50, a copy at
    id+100000 with element 0 scaled ×1.05 (cos ≈ 0.999+). The testdata
    embeddings are near-orthogonal random vectors (max pair cosine
    ≈ 0.51), so without planting the near-dup gate would only verify
    empty == empty. The perturbation is IEEE-exact cross-engine:
    double(float x) · 1.05 in both engines, quantized identically."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.col("embedding")[0].cast("double") * F.lit(1.05)),
            F.transform(
                F.slice(F.col("embedding"), 2, sim_ops.DIM - 1),
                lambda x: x.cast("double"),
            ),
        ).alias("embedding"),
    )
    return emb.select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    ).unionByName(dup)


_AUG_EMBED_SQL = """(
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
    FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS vec_id,
           list_concat(
               [CAST(embedding[1] AS DOUBLE) * 1.05],
               list_transform(embedding[2:], x -> CAST(x AS DOUBLE))
           ) AS embedding
    FROM embeddings WHERE vec_id < 50
) aug"""


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the augmented table —
    PAIR-layout LSH self-join + exact quantized-cosine refine."""
    return sim_ops.embed_neardup_pairs(_augmented_embeddings(spark, sf_dir), threshold_q=990_000)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (inverted-file lists, deterministic centroids, nprobe
    probing) — the second ANN index family beside hyperplane LSH."""
    emb = load(spark, sf_dir, "embeddings")
    return sim_ops.ann_ivf_topk(emb.filter("vec_id < 20"), emb, k=10)


def _orders_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(image_id, bytes, phash) FKIM blobs synthesized from the orders
    phash rule via Arrow mapInPandas — the shared front half of the
    multimodal gates (real binary encode path, 8×8, fraw/fjpg by key
    parity)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType, LongType, StringType, StructField, StructType,
    )

    from changesetmd_spark import synth

    orders = load(spark, sf_dir, "orders")
    # widen (r6): the single-row-group orders scan is ONE task, which
    # serialized the whole Arrow encode→decode chain on one core; one
    # cheap shuffle of the slim (id, phash, fmt) rows buys full-width
    # Python stages (guide §2 — same fix the spatial gates use)
    base = plan_strategy.widen_if_narrow(orders.selectExpr(
        "format_string('img%012d', o_orderkey) AS image_id",
        f"{orders_phash()} AS phash",
        "CASE WHEN pmod(o_orderkey, 2) = 0 THEN 'fraw' ELSE 'fjpg' END AS fmt",
    ))

    enc_schema = StructType(
        [
            StructField("image_id", StringType(), False),
            StructField("bytes", BinaryType(), False),
            StructField("phash", LongType(), False),
        ]
    )

    W = H = 8

    def encode(batches):
        for pdf in batches:
            fmt_code = np.where(pdf["fmt"].to_numpy() == "fraw", 0, 1).astype(np.int64)
            blobs = synth.encode_image(pdf["phash"].to_numpy(), W, H, fmt_code)
            yield pd.DataFrame(
                {"image_id": pdf["image_id"], "bytes": blobs, "phash": pdf["phash"]}
            )

    return base.mapInPandas(encode, enc_schema)


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal roundtrip: synthesize FKIM image blobs from phash
    (Arrow mapInPandas encode), decode them back (mapInPandas decode),
    emit integer pixel stats. The oracle reproduces the stats in
    closed form from phash — so a mismatch anywhere in the binary
    encode→store→decode path fails the gate."""
    images = _orders_images(spark, sf_dir)
    stats = multimodal.decode_stats(images)
    return stats.select(
        "image_id",
        "fmt",
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        "pixel_sum",
        F.col("pixel_min").cast("long").alias("pixel_min"),
        F.col("pixel_max").cast("long").alias("pixel_max"),
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-payload gate: synthesize 4-frame FKIM 'videos' (4×4×3
    pixels per frame, one stacked payload per order phash), sample
    every 2nd frame (multimodal.frame_sample — the 1:N Arrow unnest a
    real demuxer would slot into), decode each sampled frame and emit
    its pixel stats. The oracle reproduces per-frame stats in closed
    form from the phash pixel rule, so the encode → sample → re-encode
    → decode chain is cross-engine verified end-to-end."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    from changesetmd_spark import synth
    from changesetmd_spark.operators import multimodal

    W = H = 4
    FRAMES = 4

    orders = load(spark, sf_dir, "orders")
    # widen (r6): see _orders_images — one-task scan would serialize
    # the three-stage Arrow chain (encode → frame sample → decode)
    base = plan_strategy.widen_if_narrow(orders.selectExpr(
        "format_string('img%012d', o_orderkey) AS image_id", f"{orders_phash()} AS phash"
    ))
    enc_schema = StructType(
        [
            StructField("image_id", StringType(), False),
            StructField("bytes", BinaryType(), False),
        ]
    )

    def encode(batches):
        header = bytes(multimodal.MAGIC) + bytes([0]) + W.to_bytes(2, "big") + H.to_bytes(2, "big")
        for pdf in batches:
            # one payload of FRAMES stacked w×h×3 frames: pixel k of the
            # flat payload follows the shared pixels_for_phash rule
            px = synth.pixels_for_phash(pdf["phash"].to_numpy(), W, H * FRAMES)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "bytes": [header + row.tobytes() for row in px],
                }
            )

    videos = base.mapInPandas(encode, enc_schema)
    frames = multimodal.frame_sample(videos, every_nth=2)
    stats = multimodal.decode_stats(
        frames.select(
            F.concat(F.col("image_id"), F.lit("#"), F.col("frame_idx").cast("string")).alias(
                "image_id"
            ),
            "bytes",
        )
    )
    return stats.select(
        F.substring_index(F.col("image_id"), "#", 1).alias("image_id"),
        F.substring_index(F.col("image_id"), "#", -1).cast("long").alias("frame_idx"),
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        "pixel_sum",
        F.col("pixel_min").cast("long").alias("pixel_min"),
        F.col("pixel_max").cast("long").alias("pixel_max"),
    )


VIDEO_FRAMES_SQL = """
    WITH ph AS (
        SELECT 'img' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS image_id,
               ((o_orderkey * 2654435761 % 4294967296) * 2147483648
                + (o_orderkey * 104729 + 42) % 2147483648) % 4294967296 AS seed
        FROM orders
    ),
    fr AS (SELECT image_id, seed, unnest([0, 2]) AS frame_idx FROM ph),
    px AS (
        SELECT image_id, frame_idx,
               ((seed + (frame_idx * 48 + j) * 2654435761) % 256) AS v
        FROM fr, (SELECT unnest(generate_series(1, 48)) AS j)
    )
    SELECT image_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(4 AS BIGINT) AS w, CAST(4 AS BIGINT) AS h,
           CAST(sum(v) AS BIGINT) AS pixel_sum,
           CAST(min(v) AS BIGINT) AS pixel_min,
           CAST(max(v) AS BIGINT) AS pixel_max
    FROM px GROUP BY image_id, frame_idx
"""


def q_image_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal → ANN bridge gate: encode blobs from phash, decode,
    project pixels through the fixed ±1 embedding matrix
    (multimodal.feature_embed — the vision-model stand-in), emit probe
    dimensions. The oracle recomputes the same projections in closed
    form from the phash pixel rule with the sign matrix baked as SQL
    literals — so decode → embed is cross-engine verified end-to-end."""
    images = _orders_images(spark, sf_dir)
    emb = multimodal.feature_embed(images)
    probes = [
        # ×2^15 undoes the op's exact power-of-two scale → raw int sums
        (F.element_at(F.col("embedding"), j + 1) * multimodal.EMBED_SCALE)
        .cast("long")
        .alias(f"e{j}")
        for j in _EMBED_PROBE_DIMS
    ]
    return emb.select("image_id", *probes)


AUDIO_N_SAMPLES = 480
AUDIO_SR = 16000


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio multimodal gate: synthesize FKAU PCM blobs from the orders
    phash rule (Arrow mapInPandas encode), decode via audio_stats, emit
    integer waveform features. The oracle recomputes energy / peak /
    zero-crossings in closed form from the sample rule — the binary
    encode→store→decode audio path is cross-engine verified."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    from changesetmd_spark import synth

    orders = load(spark, sf_dir, "orders")
    # widen (r6): see _orders_images — one-task scan would serialize
    # the PCM encode + audio_stats Arrow stages on one core
    base = plan_strategy.widen_if_narrow(orders.selectExpr(
        "format_string('au%012d', o_orderkey) AS audio_id", f"{orders_phash()} AS phash"
    ))
    enc_schema = StructType(
        [
            StructField("audio_id", StringType(), False),
            StructField("bytes", BinaryType(), False),
        ]
    )

    def encode(batches):
        for pdf in batches:
            # seed with phash mod 2^32: keeps the oracle's BIGINT
            # arithmetic overflow-free for ANY phash (full phash can
            # sit within k·2654435761 of 2^63)
            seeds = pdf["phash"].to_numpy().astype(np.uint64) % np.uint64(4294967296)
            blobs = synth.encode_audio(seeds, AUDIO_N_SAMPLES, AUDIO_SR)
            yield pd.DataFrame({"audio_id": pdf["audio_id"], "bytes": blobs})

    stats = multimodal.audio_stats(base.mapInPandas(encode, enc_schema))
    return stats.selectExpr(
        "audio_id", "duration_ms", "energy", "CAST(peak AS BIGINT) AS peak", "zero_crossings"
    )


AUDIO_FEATURES_SQL = f"""
    WITH ph AS (
        SELECT 'au' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS audio_id,
               ((o_orderkey * 2654435761 % 4294967296) * 2147483648
                + (o_orderkey * 104729 + 42) % 2147483648) AS phash
        FROM orders
    ),
    pcm AS (
        SELECT audio_id, k,
               (((phash % 4294967296) + k * 2654435761) % 65536) - 32768 AS s
        FROM ph, (SELECT unnest(generate_series(1, {AUDIO_N_SAMPLES})) AS k)
    ),
    zc AS (
        SELECT audio_id, s,
               CASE WHEN lag(s) OVER (PARTITION BY audio_id ORDER BY k) IS NOT NULL
                    AND (s >= 0) != (lag(s) OVER (PARTITION BY audio_id ORDER BY k) >= 0)
                    THEN 1 ELSE 0 END AS flip
        FROM pcm
    )
    SELECT audio_id,
           CAST({AUDIO_N_SAMPLES} * 1000 / {AUDIO_SR} AS BIGINT) AS duration_ms,
           CAST(SUM(s * s) AS BIGINT) AS energy,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak,
           CAST(SUM(flip) AS BIGINT) AS zero_crossings
    FROM zc GROUP BY audio_id
"""


_EMBED_PROBE_DIMS = (0, 1, 2, 3, 63)


def _image_embed_oracle() -> str:
    from .operators.multimodal import embed_sign

    cols = []
    for j in _EMBED_PROBE_DIMS:
        signs = ", ".join(str(embed_sign(j, k)) for k in range(192))
        cols.append(f"CAST(SUM(v * ([{signs}])[k]) AS BIGINT) AS e{j}")
    return f"""
        WITH ph AS (
            SELECT 'img' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS image_id,
                   ((o_orderkey * 2654435761 % 4294967296) * 2147483648
                    + (o_orderkey * 104729 + 42) % 2147483648) AS phash,
                   o_orderkey % 2 AS parity
            FROM orders
        ),
        px AS (
            SELECT image_id, k,
                   CASE WHEN parity = 1
                        THEN (((phash % 4294967296) + k * 2654435761) % 256) - (((phash % 4294967296) + k * 2654435761) % 256) % 4
                        ELSE ((phash % 4294967296) + k * 2654435761) % 256 END AS v
            FROM ph, (SELECT unnest(generate_series(1, 192)) AS k)
        )
        SELECT image_id, {", ".join(cols)}
        FROM px GROUP BY image_id
    """


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 15-min window aggregation over the event stream."""
    ev = load(spark, sf_dir, "events")
    # TZ-independent epoch from TIMESTAMP_NTZ (unix_timestamp would
    # round-trip through the session TZ and break inside DST gaps)
    epoch = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    win = (F.floor(epoch / 900) * 900).alias("window_start")
    val = F.col("value").cast("decimal(18,6)")
    return ev.groupBy(win, F.col("event_type")).agg(
        F.count("*").alias("n"),
        (F.sum(val) * 1000000).cast("long").alias("sum_value_micro"),
    )


def _stream_table_source(spark: SparkSession, sf_dir: str, table: str):
    """(streaming DF, cleanup) over one testdata parquet table: the
    file-stream source needs a DIRECTORY; the testdata tables are
    single files — expose one via symlink (no data copy). Caller must
    invoke cleanup() in a finally block (review finding: a failing
    stream otherwise leaks the temp dir)."""
    import shutil
    import tempfile

    path = f"{sf_dir}/{table}.parquet"
    stream_dir = tempfile.mkdtemp(prefix=f"stream_{table}_")
    try:
        os.symlink(os.path.abspath(path), os.path.join(stream_dir, f"{table}.parquet"))
        src = spark.readStream.schema(_file_schema(table, path)).parquet(stream_dir)
    except BaseException:
        shutil.rmtree(stream_dir, ignore_errors=True)
        raise
    return src, lambda: shutil.rmtree(stream_dir, ignore_errors=True)


import contextlib


@contextlib.contextmanager
def _snap_gate_store(spark: SparkSession, prefix: str, key: str):
    """Temp SnapStore for a gate body: yields (store, root). The root
    is deleted on error; on success the gate must finalize through
    _snap_gate_result(out, root), which deletes it after
    materializing. One structural cleanup pattern for every
    SnapStore-backed gate (review finding: three gates carried
    hand-copied try/except rmtree blocks)."""
    import shutil
    import tempfile

    from .sources.snapstore import SnapStore

    root = tempfile.mkdtemp(prefix=prefix)
    try:
        yield SnapStore(spark, root, key=key), root
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise


def _snap_gate_result(df: DataFrame, root: str) -> DataFrame:
    """Finalize a SnapStore-backed gate: materialize the result
    (localCheckpoint → in-memory blocks, no store-file references
    remain in the plan) and delete the temp store root (review
    finding: lazy returns leaked a full table copy per gate
    invocation). Results are gate-sized (≤ a few M slim rows), well
    within block-manager memory."""
    import shutil

    out = df.localCheckpoint()
    shutil.rmtree(root, ignore_errors=True)
    return out


def _run_stream_complete(agg, prefix: str, mode: str = "complete") -> DataFrame:
    """Run a streaming query to termination (availableNow, memory
    sink) and return the sink table. The uuid-named sink stays
    registered for the session — the returned DataFrame reads from
    it; gates invoke each query once per session, so the bounded
    (rollup-sized) sink is not a leak."""
    import uuid as _uuid

    spark = agg.sparkSession
    qname = f"{prefix}_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


def q_stream_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING gate: the same tumbling-window aggregation as
    q_event_windows, but executed as a real Structured Streaming query
    (readStream over the events parquet, Trigger.AvailableNow, complete
    mode into a memory sink). Shares q_event_windows' oracle SQL — so
    the streaming engine's windowed aggregation is held to the exact
    same cross-engine answer as the batch plan."""
    src, cleanup = _stream_table_source(spark, sf_dir, "events")
    try:
        epoch = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        win = (F.floor(epoch / 900) * 900).alias("window_start")
        val = F.col("value").cast("decimal(18,6)")
        agg = src.groupBy(win, F.col("event_type")).agg(
            F.count("*").alias("n"),
            (F.sum(val) * 1000000).cast("long").alias("sum_value_micro"),
        )
        return _run_stream_complete(agg, "stream_gate")
    finally:
        cleanup()


def q_stream_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental-tiling gate: the two-resolution hex tiling
    rollup executed as a real Structured Streaming query (readStream
    over the orders parquet, Trigger.AvailableNow, complete mode into
    a memory sink) — the streaming analog of the headline pipeline's
    geotag → cell-assign → rollup. Shares hex_rollup's oracle SQL, so
    streaming micro-batch tiling is held to the exact same
    cross-engine answer as the batch plan."""
    from .functions import hexgrid

    src, cleanup = _stream_table_source(spark, sf_dir, "orders")
    try:
        points = points_from_orders(src)
        agg = (
            points.select(
                hexgrid.hex_cell(F.col("lat"), F.col("lon"), 2).alias("cell_r2"),
                hexgrid.hex_cell(F.col("lat"), F.col("lon"), 4).alias("cell_r4"),
            )
            .groupBy("cell_r2", "cell_r4")
            .agg(F.count("*").alias("n"))
        )
        return _run_stream_complete(agg, "stream_tile")
    finally:
        cleanup()


def q_stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dedup gate: exact content dedup executed as a real
    Structured Streaming query. Duplicates are PLANTED (gate-hygiene
    rule: the documents table has no duplicate texts, so a plain
    distinct would verify vacuous truth): the stream self-unions with
    id-shifted copies, so every text arrives twice under different
    ids; the md5-group aggregation must pick each group's minimum id
    and count 2. Oracle: the same union + group in batch SQL — the
    streaming micro-batch dedup is held to the exact batch answer."""
    src, cleanup = _stream_table_source(spark, sf_dir, "documents")
    try:
        doubled = src.select("doc_id", "text").unionByName(
            src.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        )
        agg = doubled.groupBy(F.md5("text").alias("_h")).agg(
            F.min("doc_id").alias("kept_id"), F.count("*").alias("n_dups")
        )
        sink = _run_stream_complete(agg.drop("_h"), "stream_dedup")
    finally:
        cleanup()
    return sink.select("kept_id", "n_dups")


STREAM_EXACT_DEDUP_SQL = """
    WITH doubled AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents
    )
    SELECT min(doc_id) AS kept_id, count(*) AS n_dups
    FROM doubled GROUP BY md5(text)
"""


def q_stream_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL streaming gate: per-user running stats held in
    applyInPandasWithState (streaming/stateful.py) driven as a real
    stream (availableNow over the events table — one file, one
    micro-batch, so the final update per user is the total state).
    Oracle: the closed-form per-user aggregation in SQL — the custom
    state transition function is held to the exact batch answer."""
    from .streaming.stateful import track_user_activity

    src, cleanup = _stream_table_source(spark, sf_dir, "events")
    try:
        out = track_user_activity(src.select("user_id", "event_type", "ts"))
        sink = _run_stream_complete(out, "state_gate", mode="update")
    finally:
        cleanup()
    # update mode emits one row per user PER MICRO-BATCH; the state
    # columns are all monotone (counts, distinct-bit count, max epoch),
    # so the final state is the per-user max — exact for the one-batch
    # case here and robust if the source ever splits into several
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("n_event_types").cast("long").alias("n_event_types"),
        F.max("last_epoch").alias("last_epoch"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via window funcs —
    the reference has no window functions (SURVEY.md §2.c); this is
    part of the engine's widened surface."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("session_id", F.sum(new_sess).over(w))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(epoch).alias("start_epoch"),
        F.max(epoch).alias("end_epoch"),
    )


def q_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAME coverage (rows between N preceding and current):
    per-user moving sum/count over the event stream. Sums in exact
    integer micro-units — no float accumulation — so the frame
    semantics themselves are what the oracle checks."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    micro = (F.col("value").cast("decimal(18,6)") * 1000000).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.sum(micro).over(w).alias("mov_sum_micro"),
        F.count("*").over(w).cast("long").alias("mov_n"),
    )


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile aggregate gate: discrete quantiles of integer cents
    per group. percentile_disc picks an actual data value (no
    interpolation arithmetic to drift), so the cross-engine comparison
    is exact by construction."""
    li = load(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    df = li.select("l_returnflag", cents.alias("cents"))
    return df.groupBy("l_returnflag").agg(
        # .cast("long"): Spark's percentile_disc returns DOUBLE; the oracle
        # CASTs to BIGINT. Values are identical (both follow the SQL-standard
        # cume_dist rule) but the driver's value-hash is dtype-strict.
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("p25"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("p50"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("p75"),
        F.count("*").alias("n"),
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by retail price per brand (row_number window)."""
    from pyspark.sql import Window

    part = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        part.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "rk")
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets rollup: customer counts by region → nation."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    j = cust.join(nation, cust.c_nationkey == nation.n_nationkey).join(
        region, nation.n_regionkey == region.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("(all)")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("(all)")).alias("nation"),
            "n",
        )
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations at (user, day) grain: days a user clicked AND
    purchased but had no error."""
    ev = load(spark, sf_dir, "events")
    u = lambda t: (  # noqa: E731
        ev.filter(F.col("event_type") == t)
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    return u("click").intersect(u("purchase")).exceptAll(u("error"))


POLY_DX = [1.0, 0.5, -0.5, -1.0, -0.5, 0.5]
POLY_DY = [0.0, 0.9, 0.9, 0.0, -0.9, -0.9]


def polygons_from_customer(customer: DataFrame) -> DataFrame:
    """Convex CCW hexagonal polygons centered on the customer geotag,
    radius from key arithmetic — vertex coords exact in both engines."""
    k = F.col("c_custkey")
    cx = F.pmod(k * 541, F.lit(3500)) / F.lit(10.0) - F.lit(175.0)
    cy = F.pmod(k * 911, F.lit(1700)) / F.lit(10.0) - F.lit(85.0)
    r = F.pmod(k, F.lit(30)) / F.lit(10.0) + F.lit(0.2)
    return customer.filter(F.pmod(k, 5) == 0).select(
        k.alias("poly_id"),
        F.array(*[cx + r * F.lit(dx) for dx in POLY_DX]).alias("xs"),
        F.array(*[cy + r * F.lit(dy) for dy in POLY_DY]).alias("ys"),
    )


POLYGONS_SQL = f"""
SELECT c_custkey AS poly_id,
       [{", ".join(f"((c_custkey * 541 % 3500) / 10.0 - 175.0) + ((c_custkey % 30) / 10.0 + 0.2) * {dx}" for dx in POLY_DX)}] AS xs,
       [{", ".join(f"((c_custkey * 911 % 1700) / 10.0 - 85.0) + ((c_custkey % 30) / 10.0 + 0.2) * {dy}" for dy in POLY_DY)}] AS ys
FROM customer WHERE c_custkey % 5 = 0
"""


def q_polygon_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE point-in-polygon join (convex hexagonal query polygons,
    cell-cover join, then the half-plane refine) — the generalization of
    B4 beyond envelopes. Oracle: identical cross-product predicate in
    SQL over the same derived polygons."""
    from .operators import polygon_join as pj

    points = plan_strategy.widen_if_narrow(
        points_from_orders(load(spark, sf_dir, "orders"))
    )
    polys = polygons_from_customer(load(spark, sf_dir, "customer"))
    pairs = pj.polygon_contains_join(points, polys, n_vertices=6, res=3)
    return pairs.groupBy("poly_id").agg(F.count("*").alias("n_points"))


def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable continuous-aggregate gate: orders land in THREE
    separate appends with an IncrementalRollup.refresh() after each —
    every refresh folds only the new snapshot's delta — and the final
    rollup state must equal DuckDB's one-shot GROUP BY over the whole
    table. Gates the additive maintenance path end-to-end (watermark,
    delta aggregation, touched-group merge)."""
    import tempfile

    from .operators.rollup import IncrementalRollup
    from .sources.snapstore import SnapStore

    orders = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    facts = orders.select(
        k.alias("fact_id"),
        F.col("o_orderpriority"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    root = tempfile.mkdtemp(prefix="rollup_gate_")
    base = SnapStore(spark, f"{root}/facts", key="fact_id")
    ru = IncrementalRollup(base, f"{root}/rollup", ["o_orderpriority"], ["price"])
    part = F.pmod(F.col("fact_id"), 3)
    base.create(facts.filter(part == 0))
    ru.refresh()
    base.append(facts.filter(part == 1))
    ru.refresh()
    base.append(facts.filter(part == 2))
    ru.refresh()
    out = ru.read().select(
        "o_orderpriority",
        "n_rows",
        (F.col("sum_price") * 100).cast("long").alias("sum_cents"),
    )
    # materialize the (tiny) rollup result, then drop the temp stores —
    # the lazy plan would otherwise pin /tmp/rollup_gate_* forever
    rows = out.collect()
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


def q_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Area on TRUE polygons (shoelace over the vertex arrays), not
    just envelope area (B5's area_filter) — quantized for exact
    cross-engine comparison; filters + aggregates per area decile so
    both the formula and its use in predicates are gated."""
    from .operators import polygon_join as pj

    polys = polygons_from_customer(load(spark, sf_dir, "customer"))
    area = pj.polygon_area_q(F.col("xs"), F.col("ys"), 6)
    return (
        polys.select("poly_id", area.alias("area_q"))
        .filter(F.col("area_q") > 0)
        .groupBy(F.floor(F.col("area_q") / 2000000).alias("area_bucket"))
        .agg(F.count("*").alias("n"), F.sum("area_q").alias("sum_area_q"))
    )


def q_hex_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiling gate: assign every point its hex cell at two resolutions
    and roll up counts — the DuckDB oracle re-implements the exact
    cell math (axial coords, half-up rounding, cube-round fixups,
    linear packing) in SQL, so cell assignment itself is cross-engine
    verified, not just join results built on it."""
    from .functions import hexgrid

    points = plan_strategy.widen_if_narrow(
        points_from_orders(load(spark, sf_dir, "orders"))
    )
    return (
        points.select(
            hexgrid.hex_cell(F.col("lat"), F.col("lon"), 2).alias("cell_r2"),
            hexgrid.hex_cell(F.col("lat"), F.col("lon"), 4).alias("cell_r4"),
        )
        .groupBy("cell_r2", "cell_r4")
        .agg(F.count("*").alias("n"))
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 MERGE/upsert gate: create a snapshot table from orders,
    apply 3 deterministic update batches via SnapStore.merge, read the
    final state. The oracle computes the same latest-row-per-key
    resolution in pure SQL over the identical update stream — so the
    whole snapshot/merge read path is checked end-to-end."""
    orders = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = orders.select(k.alias("id"), F.col("o_custkey").alias("v"), F.lit(0).alias("seq"))
    with _snap_gate_store(spark, "merge_gate_", "id") as (store, root):
        store.create(base)
        for s in (1, 2, 3):
            batch = orders.filter(F.pmod(k, s + 3) == 0).select(
                k.alias("id"),
                (F.col("o_custkey") + s * 1000000).alias("v"),
                F.lit(s).alias("seq"),
            )
            store.merge(batch)
        return _snap_gate_result(store.read().select("id", "v", "seq"), root)


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time-travel gate (north_rule: resumable from snapshot
    checkpoints): create → merge → delete on a SnapStore, then read the
    table AS OF each snapshot and union the three states. The oracle
    reconstructs every historical state in pure SQL over the identical
    update stream — so the snapshot log, the merge-on-read resolution
    AND tombstone semantics are all checked at every point in time."""
    orders = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    with _snap_gate_store(spark, "tt_gate_", "id") as (store, root):
        s0 = store.create(
            orders.select(k.alias("id"), F.col("o_custkey").alias("v"), F.lit(0).alias("seq"))
        )
        s1 = store.merge(
            orders.filter(F.pmod(k, 4) == 0).select(
                k.alias("id"), (F.col("o_custkey") + 1000000).alias("v"), F.lit(1).alias("seq")
            )
        )
        s2 = store.delete_keys(orders.filter(F.pmod(k, 10) == 0).select(k.alias("id")))
        out = None
        for tag, sid in ((0, s0), (1, s1), (2, s2)):
            part = store.read(as_of=sid).select(
                F.lit(tag).cast("long").alias("as_of"), "id", "v", "seq"
            )
            out = part if out is None else out.unionByName(part)
        return _snap_gate_result(out, root)


TIME_TRAVEL_SQL = """
    WITH base AS (SELECT o_orderkey AS id, o_custkey AS v, 0 AS seq FROM orders),
    upd AS (
        SELECT o_orderkey AS id, o_custkey + 1000000 AS v, 1 AS seq
        FROM orders WHERE o_orderkey % 4 = 0
    ),
    v1 AS (
        SELECT id, v, seq FROM (
            SELECT id, v, seq,
                   row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
            FROM (SELECT * FROM base UNION ALL SELECT * FROM upd)
        ) WHERE rn = 1
    )
    SELECT CAST(0 AS BIGINT) AS as_of, id, v, seq FROM base
    UNION ALL
    SELECT CAST(1 AS BIGINT), id, v, seq FROM v1
    UNION ALL
    SELECT CAST(2 AS BIGINT), id, v, seq FROM v1 WHERE id % 10 != 0
"""


def q_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage/metrics-table gate (A15 + north_rule: per-partition
    lineage + metrics tables): create → append → merge → delete with
    data-derived batch sizes, then read the store's lineage table. The
    oracle recomputes each snapshot's row count from the table
    semantics (the delete snapshot's tombstone count depends on the
    full merge-on-read state at that moment), so the bookkeeping —
    written from parquet footers, never a re-read — is value-checked,
    not just smoke-checked."""
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    with _snap_gate_store(spark, "lin_gate_", "id") as (store, root):
        store.create(orders.select(k.alias("id"), F.col("o_custkey").alias("v")))
        store.append(
            orders.filter(F.pmod(k, 3) == 0).select(k.alias("id"), F.col("o_custkey").alias("v"))
        )
        store.merge(
            orders.filter(F.pmod(k, 7) == 0).select(
                k.alias("id"), (F.col("o_custkey") + 1).alias("v")
            )
        )
        store.delete_keys(orders.filter(F.pmod(k, 11) == 0).select(k.alias("id")))
        w = Window.orderBy("snapshot_id")
        out = store.lineage().select(
            F.row_number().over(w).cast("long").alias("step"), "op", "rows"
        )
        return _snap_gate_result(out, root)


LINEAGE_SQL = """
    SELECT CAST(1 AS BIGINT) AS step, 'append' AS op, count(*) AS rows FROM orders
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'append', count(*) FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'merge', count(*) FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    -- tombstones: every CURRENT row of a %11 key at delete time —
    -- %7 keys were collapsed to their merge row (1), %3 keys carry
    -- base+append (2), the rest just base (1)
    SELECT CAST(4 AS BIGINT), 'delete',
           CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1
                         WHEN o_orderkey % 3 = 0 THEN 2
                         ELSE 1 END) AS BIGINT)
    FROM orders WHERE o_orderkey % 11 = 0
"""


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible ANSI)
# ---------------------------------------------------------------------------

ORACLES: dict[str, str] = {
    "spatial_contains_count": f"""
        SELECT b.box_id AS box_id, count(*) AS n_points
        FROM ({POINTS_SQL}) p JOIN ({BOXES_SQL}) b ON {_CONTAINS_PRED}
        GROUP BY b.box_id
    """,
    "spatial_contains_pairs": f"""
        SELECT p.point_id AS point_id, b.box_id AS box_id
        FROM ({POINTS_SQL}) p JOIN ({BOXES_SQL}) b ON {_CONTAINS_PRED}
    """,
    "spatial_salted": f"""
        SELECT b.box_id AS box_id, count(*) AS n_points
        FROM ({POINTS_SQL}) p JOIN ({BOXES_SQL}) b ON {_CONTAINS_PRED}
        GROUP BY b.box_id
    """,
    "spatial_wrap": f"""
        SELECT b.box_id AS box_id, count(*) AS n_points
        FROM ({POINTS_SQL}) p JOIN ({WRAPPING_BOXES_SQL}) b
        ON p.lat >= b.min_lat AND p.lat <= b.max_lat
           AND (CASE WHEN b.min_lon <= b.max_lon
                     THEN p.lon >= b.min_lon AND p.lon <= b.max_lon
                     ELSE p.lon >= b.min_lon OR p.lon <= b.max_lon END)
        GROUP BY b.box_id
    """,
    "count_filter": """
        SELECT l_linestatus, count(*) AS n FROM lineitem
        WHERE l_quantity >= 25.0 AND l_returnflag = 'A'
        GROUP BY l_linestatus
    """,
    "json_lookup": """
        SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
          AND json_extract_string(props, '$.k') LIKE '1%'
        GROUP BY event_type
    """,
    "map_lookup": """
        SELECT event_type, count(*) AS n,
               max(json_extract_string(props, '$.k')) AS max_v
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
          AND json_extract_string(props, '$.k') LIKE '2%'
        GROUP BY event_type
    """,
    "key_join_rollup": """
        SELECT o_orderpriority, count(*) AS n_items,
               CAST(SUM((CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                        * (100 - CAST(l_discount AS DECIMAL(18,2)) * 100))
                    AS BIGINT) AS revenue_q4
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
    """,
    "time_range": """
        SELECT o_orderstatus, count(*) AS n FROM orders
        WHERE o_orderdate >= DATE '1997-03-01' AND o_orderdate < DATE '1997-09-01'
        GROUP BY o_orderstatus
    """,
    "area_filter": f"""
        SELECT box_id FROM ({BOXES_SQL})
        WHERE 6371.0088 * 6371.0088 * radians(max_lon - min_lon)
              * (sin(radians(max_lat)) - sin(radians(min_lat))) < 300000.0
    """,
    "lat_clamp": """
        WITH ph AS (
            SELECT o_orderkey AS point_id,
                   ((o_orderkey * 2654435761 % 4294967296) * 2147483648
                    + (o_orderkey * 104729 + 42) % 2147483648) AS phash
            FROM orders
        ),
        raw AS (
            SELECT point_id,
                   (phash >> 31) / 4294967296.0 * 190.0 - 95.0 AS lat_raw
            FROM ph
        )
        SELECT point_id,
               CAST(floor(greatest(-90.0, least(90.0, lat_raw)) * 10000) AS BIGINT) AS lat_q,
               abs(lat_raw) > 90.0 AS was_out_of_range
        FROM raw
    """,
    "knn": f"""
        WITH p AS ({POINTS_SQL}),
        q AS (
            SELECT box_id AS query_id,
                   (min_lat + max_lat) / 2.0 AS q_lat,
                   (min_lon + max_lon) / 2.0 AS q_lon
            FROM ({BOXES_SQL}) WHERE box_id < 40
        ),
        d AS (
            SELECT q.query_id, p.point_id,
                   2.0 * 6371.0088 * asin(least(1.0, sqrt(
                       pow(sin(radians(p.lat - q.q_lat) / 2), 2)
                       + cos(radians(q.q_lat)) * cos(radians(p.lat))
                         * pow(sin(radians(p.lon - q.q_lon) / 2), 2)
                   ))) AS dist_km
            FROM q CROSS JOIN p
        ),
        r AS (
            SELECT query_id, point_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY floor(dist_km * 1000000000) ASC, point_id ASC
                   ) AS knn_rank,
                   CAST(floor(dist_km * 1000000) AS BIGINT) AS dist_qkm
            FROM d
        )
        SELECT query_id, point_id, knn_rank, dist_qkm FROM r WHERE knn_rank <= 5
    """,
    "tile_overlay": f"""
        SELECT a.box_id AS cust_box, b.box_id AS supp_box
        FROM ({BOXES_SQL}) a JOIN ({SUPPLIER_BOXES_SQL}) b
        ON NOT (a.max_lon < b.min_lon OR b.max_lon < a.min_lon
                OR a.max_lat < b.min_lat OR b.max_lat < a.min_lat)
    """,
    "exact_dedup": dedup_ops.EXACT_DEDUP_SQL(),
    "phash_neardup": dedup_ops.PHASH_NEARDUP_SQL(
        _PHASH_GATE_EXPR, "FROM orders", "o_orderkey"
    ),
    "ngram_jaccard": dedup_ops.NGRAM_JACCARD_SQL(),
    "minhash_lsh": dedup_ops.MINHASH_LSH_SQL(),
    "simhash": dedup_ops.SIMHASH_PAIRS_SQL(),
    "dedup_clusters": dedup_ops.DEDUP_CLUSTERS_SQL(dedup_ops.MINHASH_LSH_SQL()),
    "quota_sample": sampling_ops.QUOTA_SAMPLE_SQL(
        "lang", 40, "doc_id", "documents", select="doc_id, lang",
    ),
    "stratified_sample": sampling_ops.STRATIFIED_SAMPLE_SQL(
        "lang", SAMPLE_FRACTIONS_PPM, "doc_id", "documents",
        default_ppm=50_000, select="doc_id, lang",
    ),
    "text_features": f"""
        SELECT doc_id,
               {text_ops.LANG_ID_SQL('text')} AS lang_pred,
               CAST({text_ops.FINGERPRINT_SQL('text')} AS BIGINT) AS fp,
               {text_ops.QUALITY_FEATURES_SQL('text')['n_chars']} AS n_chars,
               {text_ops.QUALITY_FEATURES_SQL('text')['n_tokens']} AS n_tokens,
               CAST({text_ops.QUALITY_FEATURES_SQL('text')['avg_tok_len_q']} AS BIGINT) AS avg_tok_len_q,
               CAST({text_ops.QUALITY_FEATURES_SQL('text')['punct_ratio_q']} AS BIGINT) AS punct_ratio_q,
               CAST({text_ops.QUALITY_FEATURES_SQL('text')['stop_ratio_q']} AS BIGINT) AS stop_ratio_q
        FROM documents
    """,
    "bpe_tokens": f"""
        SELECT doc_id,
               CAST(len({text_ops.BPE_TOKENS_SQL('text')}) AS BIGINT) AS n_bpe,
               CAST(len(list_distinct({text_ops.BPE_TOKENS_SQL('text')})) AS BIGINT) AS n_distinct_bpe,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform({text_ops.BPE_TOKENS_SQL('text')}, t -> {text_ops.TOKEN_HASH_SQL('t')})),
                    (a, x) -> a + x) AS BIGINT) AS bpe_fp
        FROM documents
    """,
    "token_packing": text_ops.PACK_CONTIGUOUS_SQL(2048, 32),
    "corpus_pipeline": f"""
        WITH enriched AS (
            SELECT doc_id, text,
                   {text_ops.LANG_ID_SQL('text')} AS lang_pred,
                   CAST({text_ops.FINGERPRINT_SQL('text')} AS BIGINT) AS fp,
                   {text_ops.QUALITY_FEATURES_SQL('text')['n_tokens']} AS n_tokens,
                   CAST({text_ops.QUALITY_FEATURES_SQL('text')['punct_ratio_q']} AS BIGINT) AS punct_ratio_q
            FROM documents
        ),
        kept AS (
            SELECT * FROM enriched
            WHERE n_tokens >= 5 AND punct_ratio_q < 2000 AND lang_pred = 'en'
        ),
        winners AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text))
        SELECT k.doc_id, k.fp, k.n_tokens
        FROM kept k JOIN winners w ON k.doc_id = w.doc_id
    """,
    "cosine_topk": sim_ops.COSINE_TOPK_SQL(10, "vec_id < 20"),
    "ann_lsh": sim_ops.ANN_LSH_SQL(10, "vec_id < 20"),
    "ann_multiprobe": sim_ops.ANN_LSH_SQL(10, "vec_id < 20", multiprobe=True),
    "embed_neardup": sim_ops.EMBED_NEARDUP_SQL(990_000, table=_AUG_EMBED_SQL),
    "ann_ivf": sim_ops.ANN_IVF_SQL(10, "vec_id < 20"),
    "image_decode": """
        WITH ph AS (
            SELECT 'img' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS image_id,
                   ((o_orderkey * 2654435761 % 4294967296) * 2147483648
                    + (o_orderkey * 104729 + 42) % 2147483648) AS phash,
                   CASE WHEN o_orderkey % 2 = 0 THEN 'fraw' ELSE 'fjpg' END AS fmt,
                   o_orderkey % 2 AS parity
            FROM orders
        ),
        px AS (
            SELECT image_id, fmt,
                   CASE WHEN parity = 1
                        THEN (((phash % 4294967296) + k * 2654435761) % 256) - (((phash % 4294967296) + k * 2654435761) % 256) % 4
                        ELSE ((phash % 4294967296) + k * 2654435761) % 256 END AS v
            FROM ph, (SELECT unnest(generate_series(1, 192)) AS k)
        )
        SELECT image_id, fmt,
               CAST(8 AS BIGINT) AS w, CAST(8 AS BIGINT) AS h,
               CAST(sum(v) AS BIGINT) AS pixel_sum,
               CAST(min(v) AS BIGINT) AS pixel_min,
               CAST(max(v) AS BIGINT) AS pixel_max
        FROM px GROUP BY image_id, fmt
    """,
    "image_embed": _image_embed_oracle(),
    "video_frames": VIDEO_FRAMES_SQL,
    "audio_features": AUDIO_FEATURES_SQL,
    "event_windows": """
        SELECT CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 900) * 900 AS BIGINT) AS window_start,
               event_type, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_micro
        FROM events GROUP BY 1, 2
    """,
    "sessionize": """
        WITH e AS (
            SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, ts
            FROM events
        ),
        g AS (
            SELECT user_id, event_id, ep,
                   CASE WHEN ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                        OR lag(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_sess,
                   ts
            FROM e
        ),
        s AS (
            SELECT user_id, ep,
                   CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
            FROM g
        )
        SELECT user_id, session_id, count(*) AS n_events,
               min(ep) AS start_epoch, max(ep) AS end_epoch
        FROM s GROUP BY user_id, session_id
    """,
    "moving_window": """
        SELECT user_id, event_id,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS mov_sum_micro,
               CAST(COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS mov_n
        FROM events
    """,
    "quantiles": """
        WITH c AS (
            SELECT l_returnflag,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
            FROM lineitem
        )
        SELECT l_returnflag,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS p25,
               CAST(percentile_disc(0.5)  WITHIN GROUP (ORDER BY cents) AS BIGINT) AS p50,
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS p75,
               count(*) AS n
        FROM c GROUP BY l_returnflag
    """,
    "topk_per_group": """
        SELECT p_brand, p_partkey, rk FROM (
            SELECT p_brand, p_partkey,
                   CAST(row_number() OVER (
                       PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC
                   ) AS BIGINT) AS rk
            FROM part
        ) WHERE rk <= 3
    """,
    "rollup": """
        SELECT coalesce(r_name, '(all)') AS region,
               coalesce(n_name, '(all)') AS nation,
               count(*) AS n
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "incremental_rollup": """
        SELECT o_orderpriority, count(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_cents
        FROM orders GROUP BY o_orderpriority
    """,
    "merge_upsert": """
        WITH stream AS (
            SELECT o_orderkey AS id, o_custkey AS v, 0 AS seq FROM orders
            UNION ALL
            SELECT o_orderkey, o_custkey + 1000000, 1 FROM orders WHERE o_orderkey % 4 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey + 2000000, 2 FROM orders WHERE o_orderkey % 5 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey + 3000000, 3 FROM orders WHERE o_orderkey % 6 = 0
        ),
        latest AS (
            SELECT id, v, seq,
                   row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
            FROM stream
        )
        SELECT id, v, seq FROM latest WHERE rn = 1
    """,
    "time_travel": TIME_TRAVEL_SQL,
    "lineage": LINEAGE_SQL,
    "set_ops": """
        (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'purchase')
        EXCEPT
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'error'
    """,
}

# Gated registry — exactly 50 entries, one per UNIQUE operator, ordered
# unique-operator-first so a capped correctness harness can never drop a
# gate that is the only check for an operator (round-4 lesson: the
# driver records at most 50 rows; `polygon_contains`/`polygon_area`,
# then the last two keys, silently fell off). The two redundant
# streaming twins (`stream_event_windows`, `stream_tile_rollup`)
# re-checked operators already oracle-gated in batch; they are retired
# from the gated registry and pinned instead by
# tests/test_streaming.py::test_stream_gates_match_batch_answers.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "spatial_contains_count": q_spatial_contains_count,
    "spatial_contains_pairs": q_spatial_contains_pairs,
    "spatial_salted": q_spatial_salted,
    "spatial_wrap": q_spatial_wrap,
    "polygon_contains": q_polygon_contains,
    "polygon_area": q_polygon_area,
    "hex_rollup": q_hex_rollup,
    "knn": q_knn,
    "tile_overlay": q_tile_overlay,
    "count_filter": q_count_filter,
    "json_lookup": q_json_lookup,
    "map_lookup": q_map_lookup,
    "key_join_rollup": q_key_join_rollup,
    "time_range": q_time_range,
    "area_filter": q_area_filter,
    "lat_clamp": q_lat_clamp,
    "exact_dedup": q_exact_dedup,
    "phash_neardup": q_phash_neardup,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh": q_minhash_lsh,
    "simhash": q_simhash,
    "dedup_clusters": q_dedup_clusters,
    "stratified_sample": q_stratified_sample,
    "quota_sample": q_quota_sample,
    "text_features": q_text_features,
    "bpe_tokens": q_bpe_tokens,
    "token_packing": q_token_packing,
    "corpus_pipeline": q_corpus_pipeline,
    "cosine_topk": q_cosine_topk,
    "ann_lsh": q_ann_lsh,
    "ann_multiprobe": q_ann_multiprobe,
    "embed_neardup": q_embed_neardup,
    "ann_ivf": q_ann_ivf,
    "image_decode": q_image_decode,
    "image_embed": q_image_embed,
    "video_frames": q_video_frames,
    "audio_features": q_audio_features,
    "event_windows": q_event_windows,
    "stream_user_state": q_stream_user_state,
    "stream_exact_dedup": q_stream_exact_dedup,
    "sessionize": q_sessionize,
    "moving_window": q_moving_window,
    "quantiles": q_quantiles,
    "topk_per_group": q_topk_per_group,
    "rollup": q_rollup,
    "set_ops": q_set_ops,
    "incremental_rollup": q_incremental_rollup,
    "merge_upsert": q_merge_upsert,
    "time_travel": q_time_travel,
    "lineage": q_lineage,
}

from .functions.hexgrid import HEX_CELL_SQL as _HEX_SQL  # noqa: E402
from .operators.polygon_join import POINT_IN_CONVEX_POLYGON_SQL as _PIP_SQL  # noqa: E402

ORACLES["stream_exact_dedup"] = STREAM_EXACT_DEDUP_SQL

ORACLES["stream_user_state"] = """
    SELECT user_id, count(*) AS n_events,
           CAST(count(DISTINCT CASE WHEN event_type IN ('click','view','purchase','signup','error')
                                    THEN event_type ELSE '_other' END) AS BIGINT) AS n_event_types,
           max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_epoch
    FROM events GROUP BY user_id
"""

ORACLES["hex_rollup"] = f"""
    WITH p AS ({POINTS_SQL})
    SELECT {_HEX_SQL("p.lat", "p.lon", 2)} AS cell_r2,
           {_HEX_SQL("p.lat", "p.lon", 4)} AS cell_r4,
           count(*) AS n
    FROM p GROUP BY 1, 2
"""

# (the retired stream_event_windows / stream_tile_rollup gates shared
# event_windows' / hex_rollup's oracles; their streaming-equals-batch
# parity is now pinned by pytest instead of a gated registry row)

from .operators.polygon_join import POLYGON_AREA_Q_SQL as _PAREA_SQL  # noqa: E402

ORACLES["polygon_area"] = f"""
    WITH g AS ({POLYGONS_SQL}),
    areas AS (SELECT poly_id, {_PAREA_SQL('xs', 'ys', 6)} AS area_q FROM g)
    SELECT CAST(floor(area_q / 2000000) AS BIGINT) AS area_bucket,
           count(*) AS n, CAST(SUM(area_q) AS BIGINT) AS sum_area_q
    FROM areas WHERE area_q > 0 GROUP BY 1
"""

ORACLES["polygon_contains"] = f"""
    WITH p AS ({POINTS_SQL}), g AS ({POLYGONS_SQL})
    SELECT g.poly_id AS poly_id, count(*) AS n_points
    FROM p JOIN g ON {_PIP_SQL("p.lon", "p.lat", "g.xs", "g.ys", 6)}
    GROUP BY g.poly_id
"""
