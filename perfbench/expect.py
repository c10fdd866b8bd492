"""Independent expected answers, computed once per input and cached.

- tile pipeline: ``(box_id, n_images)`` from DuckDB over the same
  parquet, with the registry's own ``BOXES_SQL`` and containment
  predicate and the geotag rule written in SQL;
- query mix: each gate's registry oracle (``EQ.ORACLES``) on DuckDB;
- replication: a pure-Python replay of the fixture rules and the
  replication source's id rules (no Spark, no engine code).

Spark results are compared with ``tools/check_correctness.py``'s
``compare_frames``, the same exact comparison the correctness gate
uses.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import pandas as pd

from inputs import CHECKOUT, cache_path
from measure import cores

MIX_TABLES = ["orders", "documents", "embeddings"]

# phash -> clamped (lat, lon), the functions.geo rule in SQL
GEOTAG_SQL = (
    "greatest(-90.0, least(90.0, (phash >> 31) / 4294967296.0 * 190.0 - 95.0)) AS lat, "
    "(phash & 2147483647) / 2147483648.0 * 360.0 - 180.0 AS lon"
)


@functools.cache
def _compare_frames():
    path = os.path.join(CHECKOUT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare_frames


def matches(spark_df: pd.DataFrame, expected: pd.DataFrame) -> bool:
    return bool(_compare_frames()(spark_df, expected)["ok"])


def _cached(path: str, compute) -> pd.DataFrame:
    if not os.path.exists(path):
        df = compute()
        df.to_parquet(path + ".tmp", index=False)
        os.replace(path + ".tmp", path)
    return pd.read_parquet(path)


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={cores()}")
    return con


def tile_counts(images_dir: str, customer_dir: str) -> pd.DataFrame:
    from changesetmd_spark import entry_queries as EQ

    tag = f"{os.path.basename(images_dir)}__{os.path.basename(customer_dir)}"

    def compute():
        con = _duckdb()
        con.execute(
            f"CREATE VIEW customer AS SELECT * FROM read_parquet('{customer_dir}/customer.parquet/*.parquet')"
        )
        sql = f"""
            WITH p AS (SELECT {GEOTAG_SQL}
                       FROM read_parquet('{images_dir}/images.parquet/*.parquet')),
                 b AS ({EQ.BOXES_SQL})
            SELECT b.box_id, count(*) AS n_images
            FROM p JOIN b ON {EQ._CONTAINS_PRED}
            GROUP BY b.box_id"""
        return con.execute(sql).fetchdf()

    return _cached(cache_path("expected", f"tile_{tag}.parquet"), compute)


def mix_answer(sf_dir: str, gate: str) -> pd.DataFrame:
    from changesetmd_spark import entry_queries as EQ

    def compute():
        con = _duckdb()
        for t in MIX_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
            )
        return con.execute(EQ.ORACLES[gate]).fetchdf()

    tag = os.path.basename(sf_dir)
    return _cached(cache_path("expected", f"mix_{tag}_{gate}.parquet"), compute)


def replication_state(n: int, comments_every: int, seqs: list[int], batch: int) -> dict:
    """Expected totals of both stores after loading the ``n``-row
    fixture and applying ``seqs`` in order.

    Fixture rules (``synthesize_fixture_xml``): row i in 1..n has
    num_changes i % 100 and a bbox unless i % 7 == 0; a created_by tag
    unless i % 3 == 0, plus a comment tag when i % 4 == 0; two comments
    when i % comments_every == 0. Replication rules
    (``SyntheticReplicationSource``, base_ids = n): row r of sequence s
    updates id (37r + 101s) mod n + 1 when r % 5 < 3 and inserts id
    n + s·batch + r otherwise; every row has two tags and
    num_changes (3·id mod 1000) + s; the first ten rows' ids get one
    comment each, after all comments of the batch's ids are deleted.
    """
    num_changes: dict[int, int | None] = {}
    tags: dict[int, int] = {}
    no_geo: set[int] = set()
    comments: dict[int, int] = {}
    for i in range(1, n + 1):
        num_changes[i] = None if i % 7 == 0 else i % 100
        if i % 7 == 0:
            no_geo.add(i)
        tags[i] = 0 if i % 3 == 0 else 1 + (i % 4 == 0)
        if i % comments_every == 0:
            comments[i] = 2
    initial = {
        "changesets": n,
        "tags": sum(tags.values()),
        "comments": sum(comments.values()),
        "no_geo": len(no_geo),
    }
    for s in seqs:
        ids = [
            (37 * r + 101 * s) % n + 1 if r % 5 < 3 else n + s * batch + r
            for r in range(batch)
        ]
        for k in ids:
            num_changes[k] = (3 * k) % 1000 + s
            tags[k] = 2
            no_geo.discard(k)
            comments[k] = 0
        for k in ids[:10]:
            comments[k] += 1
    return {
        "initial": initial,
        "changesets": len(num_changes),
        "num_changes_sum": sum(v for v in num_changes.values() if v is not None),
        "tags": sum(tags.values()),
        "no_geo": len(no_geo),
        "comments": sum(comments.values()),
    }
