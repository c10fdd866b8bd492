"""Explicit schemas — no inference anywhere (SURVEY.md §1.3).

Mirrors the reference DDL (queries.py:6-33) with the nullability rules
from README.md:206 ("all fields except for id and created_at can be
null"; comment columns NOT NULL), plus the target image table from
BASELINE.json input_hint.

``REGISTRY`` is the catalog of the ten test tables the query registry
reads (``entry_queries.load``), with the types Spark's own parquet
inference gives their files:

============  ==========================================================
table         columns
============  ==========================================================
region        r_regionkey int, r_name string
nation        n_nationkey int, n_name string, n_regionkey int
customer      c_custkey bigint, c_name string, c_nationkey int,
              c_acctbal double, c_mktsegment string
supplier      s_suppkey bigint, s_name string, s_nationkey int,
              s_acctbal double
part          p_partkey bigint, p_name string, p_brand string,
              p_type string, p_size int, p_retailprice double
orders        o_orderkey bigint, o_custkey bigint, o_orderstatus string,
              o_totalprice double, o_orderdate timestamp_ntz,
              o_orderpriority string
lineitem      l_orderkey bigint, l_partkey bigint, l_suppkey bigint,
              l_linenumber int, l_quantity double,
              l_extendedprice double, l_discount double, l_tax double,
              l_returnflag string, l_linestatus string,
              l_shipdate timestamp_ntz
events        event_id bigint, ts timestamp_ntz, user_id bigint,
              event_type string, value double, props string
documents     doc_id bigint, text string, lang string, source string,
              n_chars bigint
embeddings    vec_id bigint, embedding array<float>, label int
============  ==========================================================

Every field is nullable, as in the files. A file may hold a subset of
its table's columns (the generated benchmark tables do); ``load`` then
reads only those.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# BASELINE.json input_hint, exact shape:
# images(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
#        caption:string, phash:int64)
IMAGES = StructType(
    [
        StructField("image_id", StringType(), nullable=False),
        StructField("bytes", BinaryType(), nullable=False),
        StructField("w", IntegerType(), nullable=False),
        StructField("h", IntegerType(), nullable=False),
        StructField("fmt", StringType(), nullable=False),
        StructField("caption", StringType(), nullable=False),
        StructField("phash", LongType(), nullable=False),
    ]
)

# osm_changeset (reference queries.py:7-20) — bbox as doubles (the
# engine's geometry math is double; DecimalType(10,7) ingest precision
# is preserved because all fixture coords have ≤7 decimals).
CHANGESETS = StructType(
    [
        StructField("id", LongType(), nullable=False),
        StructField("user_id", LongType(), nullable=True),
        StructField("created_at", TimestampType(), nullable=False),
        StructField("closed_at", TimestampType(), nullable=True),
        StructField("open", BooleanType(), nullable=True),
        StructField("num_changes", IntegerType(), nullable=True),
        StructField("user_name", StringType(), nullable=True),
        StructField("min_lat", DoubleType(), nullable=True),
        StructField("max_lat", DoubleType(), nullable=True),
        StructField("min_lon", DoubleType(), nullable=True),
        StructField("max_lon", DoubleType(), nullable=True),
        StructField("tags", MapType(StringType(), StringType()), nullable=True),
    ]
)

# osm_changeset_comment (queries.py:21-27) — all NOT NULL.
COMMENTS = StructType(
    [
        StructField("comment_changeset_id", LongType(), nullable=False),
        StructField("comment_user_id", LongType(), nullable=False),
        StructField("comment_user_name", StringType(), nullable=False),
        StructField("comment_date", TimestampType(), nullable=False),
        StructField("comment_text", StringType(), nullable=False),
    ]
)

# osm_changeset_state (queries.py:28-32), init (-1, null, 0)
# (queries.py:35) — the replication watermark/checkpoint row.
STATE = StructType(
    [
        StructField("last_sequence", LongType(), nullable=False),
        StructField("last_timestamp", TimestampType(), nullable=True),
        StructField("update_in_progress", ShortType(), nullable=False),
    ]
)

# Derived geo columns the engine attaches to images (SURVEY.md §1.2 geom
# row): lat/lon doubles + cell-index longs replace the PostGIS geometry
# column + GiST index.
GEOTAGGED_EXTRAS = StructType(
    [
        StructField("lat", DoubleType(), nullable=False),
        StructField("lon", DoubleType(), nullable=False),
        StructField("hex_cell", LongType(), nullable=False),
        StructField("s2_cell", LongType(), nullable=False),
    ]
)

# Per-micro-batch metrics row (reference progress reporting,
# changesetmd.py:97-114, re-expressed as a metrics *table* per
# north_rule).
METRICS = StructType(
    [
        StructField("batch_id", LongType(), nullable=False),
        StructField("snapshot_id", LongType(), nullable=False),
        StructField("partition_id", IntegerType(), nullable=False),
        StructField("rows", LongType(), nullable=False),
        StructField("bytes", LongType(), nullable=False),
        StructField("wall_ms", LongType(), nullable=False),
        StructField("rows_per_s", DoubleType(), nullable=False),
    ]
)

EMBEDDING = ArrayType(DoubleType())


def _table(**cols: DataType) -> StructType:
    return StructType([StructField(name, t, nullable=True) for name, t in cols.items()])


_INT, _LONG, _DOUBLE, _STR = IntegerType(), LongType(), DoubleType(), StringType()

REGISTRY: dict[str, StructType] = {
    "region": _table(r_regionkey=_INT, r_name=_STR),
    "nation": _table(n_nationkey=_INT, n_name=_STR, n_regionkey=_INT),
    "customer": _table(
        c_custkey=_LONG, c_name=_STR, c_nationkey=_INT, c_acctbal=_DOUBLE, c_mktsegment=_STR
    ),
    "supplier": _table(s_suppkey=_LONG, s_name=_STR, s_nationkey=_INT, s_acctbal=_DOUBLE),
    "part": _table(
        p_partkey=_LONG, p_name=_STR, p_brand=_STR, p_type=_STR, p_size=_INT,
        p_retailprice=_DOUBLE,
    ),
    "orders": _table(
        o_orderkey=_LONG, o_custkey=_LONG, o_orderstatus=_STR, o_totalprice=_DOUBLE,
        o_orderdate=TimestampNTZType(), o_orderpriority=_STR,
    ),
    "lineitem": _table(
        l_orderkey=_LONG, l_partkey=_LONG, l_suppkey=_LONG, l_linenumber=_INT,
        l_quantity=_DOUBLE, l_extendedprice=_DOUBLE, l_discount=_DOUBLE, l_tax=_DOUBLE,
        l_returnflag=_STR, l_linestatus=_STR, l_shipdate=TimestampNTZType(),
    ),
    "events": _table(
        event_id=_LONG, ts=TimestampNTZType(), user_id=_LONG, event_type=_STR,
        value=_DOUBLE, props=_STR,
    ),
    "documents": _table(doc_id=_LONG, text=_STR, lang=_STR, source=_STR, n_chars=_LONG),
    "embeddings": _table(vec_id=_LONG, embedding=ArrayType(FloatType()), label=_INT),
}
