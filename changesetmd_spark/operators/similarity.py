"""Similarity search over embedding columns (task brief): brute-force
cosine top-k baseline + hyperplane-LSH bucketed ANN as the scale path.

Cross-engine determinism design: embeddings (array<float>) are
quantized element-wise to integers (floor(x·10^6), exact for float32
inputs) BEFORE any arithmetic, so dot products and squared norms are
*exact int64 sums* — order-independent, identical in Spark and DuckDB.
Similarities are then quantized once at the end:

    cos_q = floor(10^6 · dot / (sqrt(n_a) · sqrt(n_b)))

sqrt/division run on identical integer inputs → identical doubles →
identical floor. Top-k rank ties break by neighbor id.

Scale path (``ann_lsh_topk``): 16 deterministic ±1 hyperplanes (sign
from integer arithmetic, no RNG) bucket vectors into 2^16 LSH cells;
candidates join within the query's bucket only — a hash equi-join on
the bucket id, same shape as the spatial cell join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

QUANT = 1_000_000  # element quantization
# multi-table hyperplane LSH (OR-amplification): TABLES independent
# hash tables of BITS sign-bits each. One monolithic table would be so
# selective that nothing shares a bucket; multiple small tables give
# recall ≈ 1-(1-p^BITS)^TABLES for per-plane agreement p.
#
# TWO key layouts, because the two consumers have different blowup
# modes:
# - topk (LSH_TABLES×LSH_BITS = 8×6): the query side is broadcast-
#   small, candidates are O(n·|Q|/2^6) — narrow buckets maximize
#   recall and the join can't go quadratic.
# - near-dup PAIRS (PAIR_TABLES×PAIR_BITS = 8×16): a full SELF-join on
#   the bucket key — 6-bit buckets would give ~8·n²/64 random-pair
#   candidates (the round-2 scale flag). 16-bit buckets drop spurious
#   collisions to 8·n²/65536 while true near-dups (cos ≥ 0.99 ⇒
#   per-plane agreement p ≳ 0.955) still share a table with
#   1-(1-p^16)^8 ≈ 0.995+ probability.
LSH_TABLES = 8
LSH_BITS = 6
N_PLANES = LSH_TABLES * LSH_BITS
PAIR_TABLES = 8
PAIR_BITS = 16
PAIR_PLANE_BASE = 1000  # independent md5 plane namespace from topk's 0..47
DIM = 64  # embeddings table dimension


def quantized(vec: str) -> str:
    """Spark SQL text, array<long>: floor(x·1e6) per element of the
    array expression ``vec`` (float32→double exact).

    This and the other expression builders of this module return SQL
    text, not Columns: one ``F.expr``/``selectExpr`` string costs a
    few py4j round trips, one Column call about twelve."""
    return f"transform({vec}, x -> floor(CAST(x AS DOUBLE) * {QUANT}))"


def QUANTIZED_SQL(vec: str) -> str:
    return f"list_transform({vec}, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"


def dot_int(a: str, b: str) -> str:
    """Spark SQL text: exact int64 dot product of two quantized vectors."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)"


def DOT_INT_SQL(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), (x, y) -> x + y)"
    )


def cos_q(dot: str, n_a: str, n_b: str) -> str:
    """Spark SQL text, quantized cosine: floor(1e6·dot/(√n_a·√n_b));
    0 for zero norms."""
    denom = f"sqrt(CAST({n_a} AS DOUBLE)) * sqrt(CAST({n_b} AS DOUBLE))"
    return (
        f"CAST(CASE WHEN {denom} > 0 THEN floor({dot} * 1000000.0D / ({denom})) ELSE 0 END AS BIGINT)"
    )


def _cos_q_of(a: str, b: str) -> str:
    """``cos_q`` of the ``_prep``'d columns ``<a>vec``/``<a>n2`` and
    ``<b>vec``/``<b>n2``."""
    return cos_q(dot_int(f"{a}vec", f"{b}vec"), f"{a}n2", f"{b}n2")


def COS_Q_SQL(dot: str, n_a: str, n_b: str) -> str:
    return (
        f"CASE WHEN sqrt(CAST({n_a} AS DOUBLE)) * sqrt(CAST({n_b} AS DOUBLE)) > 0 "
        f"THEN CAST(floor({dot} * 1000000.0 / (sqrt(CAST({n_a} AS DOUBLE)) * sqrt(CAST({n_b} AS DOUBLE)))) AS BIGINT) "
        f"ELSE 0 END"
    )


def _prep(vectors: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    vec = f"{prefix}vec"
    return vectors.selectExpr(
        f"{id_col} AS {prefix}id", f"{quantized(vec_col)} AS {vec}"
    ).withColumn(f"{prefix}n2", F.expr(dot_int(vec, vec)))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Rank each query's neighbors by cos_sim_q desc, neighbor_id asc
    and keep the first ``k`` (``sim_rank`` 1..k)."""
    rank = "row_number() OVER (PARTITION BY query_id ORDER BY cos_sim_q DESC, neighbor_id ASC)"
    return scored.withColumn("sim_rank", F.expr(f"CAST({rank} AS BIGINT)")).filter(
        f"sim_rank <= {k}"
    )


def cosine_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force exact cosine top-k: broadcast the (small) query set,
    one pass over the vector table, window top-k. Returns
    (query_id, neighbor_id, cos_sim_q, sim_rank)."""
    q = F.broadcast(_prep(queries, id_col, vec_col, "q_"))
    v = _prep(vectors, id_col, vec_col, "v_")
    pairs = v.crossJoin(q)
    if exclude_self:
        pairs = pairs.filter("q_id != v_id")
    scored = pairs.selectExpr(
        "q_id AS query_id", "v_id AS neighbor_id", f"{_cos_q_of('q_', 'v_')} AS cos_sim_q"
    )
    return _top_k(scored, k)


def COSINE_TOPK_SQL(
    k: int,
    query_pred: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
    exclude_self: bool = True,
) -> str:
    return f"""
        WITH q AS (
            SELECT {id_col}, {QUANTIZED_SQL(vec_col)} AS qvec,
                   {DOT_INT_SQL(QUANTIZED_SQL(vec_col), QUANTIZED_SQL(vec_col))} AS qn2
            FROM {table} WHERE {query_pred}
        ),
        v AS (
            SELECT {id_col}, {QUANTIZED_SQL(vec_col)} AS vvec,
                   {DOT_INT_SQL(QUANTIZED_SQL(vec_col), QUANTIZED_SQL(vec_col))} AS vn2
            FROM {table}
        ),
        scored AS (
            SELECT q.{id_col} AS query_id, v.{id_col} AS neighbor_id,
                   {COS_Q_SQL(DOT_INT_SQL("q.qvec", "v.vvec"), "q.qn2", "v.vn2")} AS cos_sim_q
            FROM q CROSS JOIN v
            {("WHERE q." + id_col + " != v." + id_col) if exclude_self else ""}
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_sim_q,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cos_sim_q DESC, neighbor_id ASC
                   ) AS sim_rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cos_sim_q, CAST(sim_rank AS BIGINT) AS sim_rank
        FROM ranked WHERE sim_rank <= {k}
    """


# ---------------------------------------------------------------------------
# hyperplane LSH ANN
# ---------------------------------------------------------------------------

def plane_sign(plane: int, dim_idx: int) -> int:
    """Deterministic ±1 pseudo-random hyperplane entries. md5-seeded so
    planes are genuinely independent (a simple integer-parity formula
    degenerates: (p+d+pd) mod 2 collapses odd planes to one plane).
    The signs are baked as literals into both the Spark expression and
    the oracle SQL, so the two engines share them by construction."""
    import hashlib

    h = hashlib.md5(f"plane{plane},dim{dim_idx}".encode()).digest()
    return 1 if h[0] % 2 == 0 else -1


def _planes_matrix(n_planes: int = N_PLANES, base: int = 0) -> np.ndarray:
    return np.array(
        [[plane_sign(base + p, d) for d in range(DIM)] for p in range(n_planes)],
        dtype=np.int64,
    )  # (n_planes, DIM)


def lsh_table_keys(
    vec_q: Column,
    tables: int = LSH_TABLES,
    bits: int = LSH_BITS,
    plane_base: int = 0,
    multiprobe: bool = False,
) -> Column:
    """array<long> of ``tables`` keys: key_t = t·2^(bits+1) + bits_t
    where bits_t packs the table's ``bits`` sign-bits. Sharing ANY key
    makes a candidate pair (OR-amplification). Defaults are the topk
    layout; the pairs layout passes (PAIR_TABLES, PAIR_BITS,
    PAIR_PLANE_BASE).

    ``multiprobe=True`` appends, per table, the bucket with the
    LOWEST-|margin| sign bit flipped (ties → smaller plane index,
    matching np.argmin's first-wins) — classic multi-probe LSH: the
    near-misses a true neighbor most likely fell into are probed
    instead of paying for more tables. Apply it to the (small) QUERY
    side only; the indexed side keeps one bucket per table.

    Computed in ONE Arrow pandas UDF as an exact int64 matrix multiply
    (n, DIM) @ (DIM, n_planes) — the 48 per-plane expression folds this
    replaces were ~10× slower at bench scale; bucket values are
    bit-identical (integer arithmetic), so the SQL oracle
    (LSH_TABLE_KEYS_SQL) still matches exactly."""
    n_planes = tables * bits

    @F.pandas_udf(ArrayType(LongType()))
    def _keys(vecs: pd.Series) -> pd.Series:
        planes = _planes_matrix(n_planes, plane_base).T  # (DIM, n_planes)
        m = np.stack(vecs.to_numpy())  # (n, DIM) int64 quantized
        # float64 matmul routes through BLAS (int64 matmul does not);
        # |q| ≤ ~10^7 × ±1 over DIM=64 terms ⇒ |dot| ≤ ~10^9 ≪ 2^53,
        # integer-exact in float64 — cast back is bit-identical
        proj = (m.astype(np.float64) @ planes.astype(np.float64)).astype(np.int64)
        sbits = (proj >= 0).astype(np.int64)  # (n, n_planes)
        weights = np.array([1 << (i % bits) for i in range(n_planes)], dtype=np.int64)
        weighted = sbits * weights
        n_keys = tables * (2 if multiprobe else 1)
        keys = np.zeros((m.shape[0], n_keys), dtype=np.int64)
        for t in range(tables):
            primary = (
                weighted[:, t * bits:(t + 1) * bits].sum(axis=1)
                + (t << (bits + 1))
            )
            keys[:, t] = primary
            if multiprobe:
                margins = np.abs(proj[:, t * bits:(t + 1) * bits])
                flip_bit = margins.argmin(axis=1)  # first min wins
                keys[:, tables + t] = primary ^ (np.int64(1) << flip_bit)
        return pd.Series(list(keys))

    return _keys(vec_q)


def _PLANE_PROJ_SQL(vec_q: str, p: int) -> str:
    signs = ", ".join(str(plane_sign(p, d)) for d in range(DIM))
    return DOT_INT_SQL(vec_q, f"[{signs}]")


def _PLANE_BIT_SQL(vec_q: str, p: int) -> str:
    return f"(CASE WHEN {_PLANE_PROJ_SQL(vec_q, p)} >= 0 THEN 1 ELSE 0 END)"


def LSH_TABLE_KEYS_SQL(
    vec_q: str,
    tables: int = LSH_TABLES,
    bits: int = LSH_BITS,
    plane_base: int = 0,
    multiprobe: bool = False,
) -> str:
    """Oracle twin of ``lsh_table_keys`` (same key order: primaries
    then, with multiprobe, the flipped-lowest-|margin| buckets)."""
    keys, flipped = [], []
    for t in range(tables):
        bit_sum = " + ".join(
            f"{_PLANE_BIT_SQL(vec_q, plane_base + t * bits + i)} * {1 << i}"
            for i in range(bits)
        )
        primary = f"CAST({t << (bits + 1)} + {bit_sum} AS BIGINT)"
        keys.append(primary)
        if multiprobe:
            margins = [
                f"abs({_PLANE_PROJ_SQL(vec_q, plane_base + t * bits + i)})"
                for i in range(bits)
            ]
            m = f"least({', '.join(margins)})"
            # first-wins tie-break = np.argmin: CASE stops at the first
            # margin equal to the minimum
            flip_mask = (
                "(CASE "
                + " ".join(
                    f"WHEN {margins[i]} = {m} THEN CAST({1 << i} AS BIGINT)"
                    for i in range(bits)
                )
                + " END)"
            )
            flipped.append(f"xor({primary}, {flip_mask})")
    return "[" + ", ".join(keys + flipped) + "]"


def ann_lsh_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    multiprobe: bool = False,
) -> DataFrame:
    """ANN: candidates restricted to vectors sharing ≥1 LSH table
    bucket with the query (hash equi-join on table keys — scales to
    any table size), exact cosine + top-k within candidates.
    Approximate by design: recall measured in tests against
    ``cosine_topk``; the bucket join is the 100 TB path (table key is
    also the natural partition key).

    ``multiprobe=True`` additionally probes, per table, the bucket
    with the query's lowest-margin bit flipped — the QUERY side only
    (it is broadcast-small), so recall rises like doubling the table
    count at zero extra index size or indexed-side work."""
    q = _prep(queries, id_col, vec_col, "q_").withColumn(
        "bucket",
        F.explode(lsh_table_keys(F.col("q_vec"), multiprobe=multiprobe)),
    )
    v = _prep(vectors, id_col, vec_col, "v_").withColumn(
        "bucket", F.explode(lsh_table_keys(F.col("v_vec")))
    )
    pairs = v.join(F.broadcast(q), "bucket")
    if exclude_self:
        pairs = pairs.filter("q_id != v_id")
    scored = pairs.selectExpr(
        "q_id AS query_id", "v_id AS neighbor_id", f"{_cos_q_of('q_', 'v_')} AS cos_sim_q"
    ).dropDuplicates(["query_id", "neighbor_id"])
    return _top_k(scored, k)


def ANN_LSH_SQL(
    k: int,
    query_pred: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
    exclude_self: bool = True,
    multiprobe: bool = False,
) -> str:
    qv = QUANTIZED_SQL(vec_col)
    q_keys = LSH_TABLE_KEYS_SQL("qvec", multiprobe=multiprobe)
    return f"""
        WITH pre AS (
            SELECT {id_col}, {qv} AS qvec,
                   {DOT_INT_SQL(qv, qv)} AS n2
            FROM {table}
        ),
        base AS (
            SELECT {id_col}, qvec, n2, unnest({LSH_TABLE_KEYS_SQL('qvec')}) AS bucket
            FROM pre
        ),
        q AS (
            SELECT {id_col}, qvec, n2, unnest({q_keys}) AS bucket
            FROM pre WHERE {query_pred}
        ),
        scored AS (
            SELECT DISTINCT q.{id_col} AS query_id, v.{id_col} AS neighbor_id,
                   {COS_Q_SQL(DOT_INT_SQL("q.qvec", "v.qvec"), "q.n2", "v.n2")} AS cos_sim_q
            FROM q JOIN base v ON q.bucket = v.bucket
            {("AND q." + id_col + " != v." + id_col) if exclude_self else ""}
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_sim_q,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cos_sim_q DESC, neighbor_id ASC
                   ) AS sim_rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cos_sim_q, CAST(sim_rank AS BIGINT) AS sim_rank
        FROM ranked WHERE sim_rank <= {k}
    """


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------

IVF_CENTROIDS = 64  # FIXED centroid count — constant at any table size
IVF_NPROBE = 4      # probe the nprobe nearest centroid lists


def ivf_assignments(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
) -> DataFrame:
    """Rank centroids per vector by quantized cosine (ties → smaller
    centroid id); keep ranks ≤ nprobe. Input frames must be ``_prep``'d
    with prefixes v_/c_. Returns (v_id, v_vec, v_n2, ivf_cell,
    probe_rank). Used for the (small) QUERY side where nprobe > 1;
    the full-table list assignment uses ``ivf_assign_lists``.
    r6: one Arrow matmul per batch + posexplode replaces the
    crossJoin + window (same cells, same rank order — see _cells_udf)."""
    cells = _cells_udf(centroids, nprobe)
    return vectors.select(
        "v_id", "v_vec", "v_n2", F.posexplode(cells("v_vec")).alias("_pos", "ivf_cell")
    ).selectExpr("v_id", "v_vec", "v_n2", "ivf_cell", "CAST(_pos + 1 AS INT) AS probe_rank")


def _collect_centroids(centroids: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Driver-side (c_ids, C matrix, c_n2) from a ``_prep``'d c_ frame,
    sorted by c_id ascending (so numpy first-wins ranking reproduces
    the row_number tie-break 'ties → smaller centroid id'). Centroid
    sets are FIXED-SIZE by design (IVF_CENTROIDS / k-means k) —
    collecting k rows is the same bounded driver state every k-means
    implementation keeps. Accepts an already-collected (ids, C, n2)
    tuple pass-through so one collect can feed several UDFs (ann_ivf
    builds lists + probes from the same centroid set)."""
    if isinstance(centroids, tuple):
        return centroids
    rows = sorted(
        centroids.select("c_id", "c_vec", "c_n2").collect(), key=lambda r: r[0]
    )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    n2 = np.array([r[2] for r in rows], dtype=np.float64)
    return ids, C, n2


def _check_exact(n2: np.ndarray, side: str) -> None:
    """Raise unless every squared norm in ``n2`` is below 2^53, the
    bound under which the float64 matmul in ``_cells_udf`` is exact. A
    float64 sum that reaches 2^53 rounds to at least 2^53, so a norm
    past the bound is never missed."""
    top = float(n2.max(initial=0.0))
    if top >= 2.0**53:
        raise ValueError(
            f"_cells_udf: a quantized {side} squared norm is {top:.6g} >= 2^53, "
            "so the float64 matmul is not integer-exact"
        )


def _cells_udf(centroids: DataFrame, nprobe: int):
    """Arrow pandas UDF: v_vec → array of the ``nprobe`` nearest
    centroid ids in rank order (quantized cosine desc, c_id asc).

    One float64 BLAS matmul per batch replaces the crossJoin ×
    interpreted per-element dot_int aggregate (r6: the assignment was
    the dominant ann_ivf cost — Spark evaluates higher-order array
    lambdas interpreted, per element). Exactness: quantized elements
    (≤ ~1e6) over DIM=64 terms keep every partial sum < 2^53, so the
    float64 matmul is integer-exact; cos_q then replicates the column
    expression's IEEE op order (dot·1e6 / (√n_a·√n_b), floor) on
    identical doubles — bit-identical cells, oracle-gated.

    The bound is checked, not assumed. Every partial sum of a squared
    norm is at most the norm, and by Cauchy-Schwarz every partial sum
    of a dot is at most √n_v·√n_c, so all of them stay below 2^53 iff
    both squared norms do. The centroid side is checked once here,
    the vector side once per batch; either raises, naming the bound,
    instead of returning inexact cells."""
    ids, C, cn2 = _collect_centroids(centroids)
    _check_exact(cn2, "centroid")
    k = min(nprobe, len(ids))
    sqrt_cn2 = np.sqrt(cn2)

    @F.pandas_udf(ArrayType(LongType()))
    def _cells(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, DIM)
        vn2 = (m * m).sum(axis=1)                         # integer-exact
        _check_exact(vn2, "vector")
        dots = m @ C.T                                    # integer-exact
        denom = np.sqrt(vn2)[:, None] * sqrt_cn2[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.where(denom > 0, np.floor(dots * 1e6 / denom), 0.0)
        # rank: sim desc, c_id asc — ids sorted asc + stable argsort on
        # -sim keeps the smaller id first on ties
        order = np.argsort(-sim, axis=1, kind="stable")[:, :k]
        return pd.Series(list(ids[order]))

    return _cells


def ivf_assign_lists(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment for the FULL vector table — the
    100 TB path: broadcast the fixed-size centroid set, score n·|C|
    rows, and reduce with a ``max_by`` aggregate (map-side partial
    combine, ONE shuffle on v_id, no window materializing all n·|C|
    ranked pairs). Ties → smaller centroid id, identical to the
    row_number ordering the oracle replicates.

    r6: the n·|C| score-and-reduce (crossJoin + max_by over interpreted
    per-element dot_int lambdas) is now ONE Arrow matmul per batch
    (_cells_udf with nprobe=1) — no shuffle at all, the map stage emits
    each vector's cell directly; cells bit-identical (see _cells_udf)."""
    cells = _cells_udf(centroids, 1)
    return vectors.select(
        "v_id", "v_vec", "v_n2", F.element_at(cells("v_vec"), 1).alias("ivf_cell")
    )


def _centroid_frame(spark, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """(c_id, c_vec, c_n2) frame from driver-side centroid vectors
    (k rows — centroid sets are bounded and broadcast, like any
    k-means implementation's cluster centers)."""
    rows = [(cid, vec, sum(x * x for x in vec)) for cid, vec in cents]
    return spark.createDataFrame(
        rows, "c_id long, c_vec array<long>, c_n2 long"
    )


def _weighted_greedy_seeds(
    cand: list[list[int]], weights: dict[int, int], k: int
) -> list[tuple[int, list[int]]]:
    """Driver-side reduction of the k-means|| candidate set (≤ 1+R·l
    vectors × DIM — tiny) to k seeds: start from the heaviest
    candidate, then greedily add the candidate maximizing
    weight · (1 − cos to nearest chosen) — the weighted analog of
    kmeans++'s w·d² rule, deterministic (ties → smaller index).
    Duplicate candidate vectors can never be picked twice (their
    distance term is 0), so k distinct seeds come out whenever the
    data has k distinct vectors among the candidates."""
    import math as _m

    def _cos(a: list[int], b: list[int]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = _m.sqrt(sum(x * x for x in a)) or 1.0
        nb = _m.sqrt(sum(x * x for x in b)) or 1.0
        return d / (na * nb)

    w = [weights.get(i, 0) for i in range(len(cand))]
    start = max(range(len(cand)), key=lambda i: (w[i], -i))
    chosen = [start]
    nearest = [1.0 - _cos(c, cand[start]) for c in cand]
    while len(chosen) < min(k, len(cand)):
        nxt = max(
            (i for i in range(len(cand)) if i not in chosen),
            key=lambda i: (w[i] * nearest[i], -i),
        )
        chosen.append(nxt)
        for i in range(len(cand)):
            nearest[i] = min(nearest[i], 1.0 - _cos(cand[i], cand[nxt]))
    # degenerate pad (fewer candidates than k): reuse the last seed —
    # Lloyd's keeps empty clusters' previous centers, so extras are
    # harmless placeholders
    while len(chosen) < k:
        chosen.append(chosen[-1])
    return [(j, list(cand[i])) for j, i in enumerate(chosen)]


def kmeans_fit(
    vectors: DataFrame,
    k: int = 16,
    iters: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means over quantized embeddings — the
    trained-centroid source for ``ann_ivf_topk(centroids=...)``.

    Per iteration: broadcast the k centroids, assign every vector to
    its nearest (quantized-cosine ``max_by`` aggregate — one shuffle,
    map-side combine, same shape as ``ivf_assign_lists``), then reduce
    per-cluster per-dimension SUMS (posexplode → groupBy — k·DIM rows)
    and recompute means on the driver (k·DIM longs — bounded by k, not
    by data, exactly like any k-means keeps its centers driver-side).

    Init is deterministic k-means|| (Bahmani et al., VLDB'12) with a
    hash in place of the RNG: a constant number of oversampling
    rounds — NOT k−1 sequential farthest-point passes (the round-2
    shape, O(k) driver round-trips). Each round scores every vector's
    cosine distance to the current candidate set and keeps vector x
    with "probability" l·d(x)/φ, decided by xxhash64(v_id, round)
    instead of a random draw — blob-proportional coverage like the
    randomized original, bit-identical across runs. A final pass
    weights each candidate by its assignment count, then a driver-side
    weighted greedy (max weight·distance-to-chosen) reduces the ≤1+R·l
    candidates to k seeds. Total distributed init cost: 2 slim passes
    per round + 1 weight pass, independent of k. Quantized integer
    arithmetic + floor-division means keep every run bit-identical;
    empty clusters keep their previous center. Iterative ⇒ not
    SQL-expressible; verified by convergence property tests."""
    spark = vectors.sparkSession
    v = _prep(vectors, id_col, vec_col, "v_")
    first = v.orderBy("v_id").limit(1).collect()[0]
    cand = [[int(x) for x in first["v_vec"]]]
    rounds, ell = 3, 2 * k
    for rnd in range(rounds):
        cdf = _centroid_frame(spark, list(enumerate(cand)))
        scored = (
            v.crossJoin(F.broadcast(cdf))
            .withColumn("_csim", F.expr(_cos_q_of("v_", "c_")))
            .groupBy("v_id")
            .agg(F.max("_csim").alias("_near"), F.any_value("v_vec").alias("_vec"))
            .withColumn("_dist", F.lit(QUANT).cast("long") - F.col("_near"))
            .localCheckpoint()  # slim (id, dist, vec); re-read by φ-agg + filter
        )
        phi = scored.agg(F.sum("_dist")).collect()[0][0] or 0
        if phi <= 0:
            break  # every vector already coincides with a candidate
        # keep x iff u(x) < l·d(x)/φ with u = hash-uniform in [0,1)
        u = (F.pmod(F.xxhash64(F.col("v_id"), F.lit(rnd)), F.lit(1_000_000))) / 1_000_000.0
        kept = (
            scored.filter(u * F.lit(float(phi)) < F.lit(float(ell)) * F.col("_dist"))
            .orderBy("v_id")
            .collect()
        )
        cand.extend([int(x) for x in r["_vec"]] for r in kept)
    # weight pass: how many vectors each candidate would own
    cdf = _centroid_frame(spark, list(enumerate(cand)))
    weights = {
        r.ivf_cell: r.w
        for r in ivf_assign_lists(v, cdf)
        .groupBy("ivf_cell")
        .agg(F.count("*").alias("w"))
        .collect()
    }
    cents = _weighted_greedy_seeds(cand, weights, k)
    dim = len(cents[0][1])
    for _ in range(iters):
        cdf = _centroid_frame(spark, cents)
        assigned = ivf_assign_lists(v, cdf)
        stats = (
            assigned.select("ivf_cell", F.posexplode("v_vec").alias("pos", "val"))
            .groupBy("ivf_cell", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for r in stats:
            sums.setdefault(r.ivf_cell, [0] * dim)[r.pos] = r.s
            counts[r.ivf_cell] = r.n
        cents = [
            (cid, [s // counts[cid] for s in sums[cid]]) if cid in counts else (cid, old)
            for cid, old in cents
        ]
    return _centroid_frame(spark, cents)


def ann_ivf_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = IVF_CENTROIDS,
    nprobe: int = IVF_NPROBE,
    exclude_self: bool = True,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: every vector lives in the list of its nearest centroid;
    a query probes its ``nprobe`` nearest centroid lists and ranks the
    candidates exactly. Centroids are a FIXED-SIZE deterministic set
    (the first ``n_centroids`` vector ids — the training-free stand-in
    for a k-means table in this sandbox; swap the centroid frame for
    trained centroids on a real pipeline). Constant |C| keeps the
    assignment O(n·|C|) with a broadcastable build side at any table
    size (a data-proportional centroid set would make it O(n²)). All
    arithmetic is integer-quantized → the DuckDB oracle replicates the
    algorithm exactly. Pass ``centroids`` (a ``kmeans_fit`` frame) to
    use trained centers instead; the oracle gate covers the default
    deterministic set (the trained path is iterative, property-tested)."""
    cents = centroids if centroids is not None else _prep(
        vectors.filter(f"{id_col} < {n_centroids}"), id_col, vec_col, "c_"
    )
    cents = _collect_centroids(cents)  # one driver collect feeds both UDFs
    v = _prep(vectors, id_col, vec_col, "v_")
    q = _prep(queries, id_col, vec_col, "v_")
    lists = ivf_assign_lists(v, cents)
    probes = ivf_assignments(q, cents, nprobe=nprobe).selectExpr(
        "v_id AS q_id", "v_vec AS q_vec", "v_n2 AS q_n2", "ivf_cell"
    )
    cand = lists.join(F.broadcast(probes), "ivf_cell")
    if exclude_self:
        cand = cand.filter("q_id != v_id")
    scored = cand.selectExpr(
        "q_id AS query_id", "v_id AS neighbor_id", f"{_cos_q_of('q_', 'v_')} AS cos_sim_q"
    ).dropDuplicates(["query_id", "neighbor_id"])
    return _top_k(scored, k)


def ANN_IVF_SQL(
    k: int,
    query_pred: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
    n_centroids: int = IVF_CENTROIDS,
    nprobe: int = IVF_NPROBE,
    exclude_self: bool = True,
) -> str:
    qv = QUANTIZED_SQL(vec_col)
    return f"""
        WITH base AS (
            SELECT {id_col} AS vid, {qv} AS vec, {DOT_INT_SQL(qv, qv)} AS n2
            FROM {table}
        ),
        cents AS (SELECT vid AS cid, vec AS cvec, n2 AS cn2 FROM base WHERE vid < {n_centroids}),
        ranked_assign AS (
            SELECT b.vid, b.vec, b.n2, c.cid,
                   row_number() OVER (
                       PARTITION BY b.vid
                       ORDER BY {COS_Q_SQL(DOT_INT_SQL("b.vec", "c.cvec"), "b.n2", "c.cn2")} DESC,
                                c.cid ASC
                   ) AS pr
            FROM base b CROSS JOIN cents c
        ),
        lists  AS (SELECT vid, vec, n2, cid AS cell FROM ranked_assign WHERE pr = 1),
        probes AS (
            SELECT vid AS qid, vec AS qvec, n2 AS qn2, cid AS cell
            FROM ranked_assign WHERE pr <= {nprobe} AND vid IN (SELECT {id_col} FROM {table} WHERE {query_pred})
        ),
        scored AS (
            SELECT DISTINCT p.qid AS query_id, l.vid AS neighbor_id,
                   {COS_Q_SQL(DOT_INT_SQL("p.qvec", "l.vec"), "p.qn2", "l.n2")} AS cos_sim_q
            FROM probes p JOIN lists l ON p.cell = l.cell
            {("AND p.qid != l.vid") if exclude_self else ""}
        ),
        topk AS (
            SELECT query_id, neighbor_id, cos_sim_q,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cos_sim_q DESC, neighbor_id ASC
                   ) AS sim_rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cos_sim_q, CAST(sim_rank AS BIGINT) AS sim_rank
        FROM topk WHERE sim_rank <= {k}
    """


def embed_neardup_pairs(
    vectors: DataFrame,
    threshold_q: int = 950_000,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (task brief dedup family):
    LSH-table candidates (pairs sharing ≥1 table bucket — near-parallel
    vectors almost surely do) + exact quantized-cosine refine ≥ τ.
    Undirected, emitted once with vec_a < vec_b.

    Uses the PAIRS key layout (PAIR_TABLES×PAIR_BITS = 8×16-bit
    tables), NOT topk's 8×6: this operator SELF-joins the whole table
    on the bucket, so random-pair collisions must be ~n²/2^16 per
    table, not n²/2^6 (candidate growth is asserted linear in tests on
    a random corpus). True near-dups (cos ≥ 0.99) still collide with
    p ≈ 1-(1-p_plane^16)^8 ≳ 0.995; recall is property-tested on
    planted duplicates and the full algorithm is oracle-gated
    (EMBED_NEARDUP_SQL)."""
    v = _prep(vectors, id_col, vec_col, "v_").withColumn(
        "bucket",
        F.explode(
            lsh_table_keys(F.col("v_vec"), PAIR_TABLES, PAIR_BITS, PAIR_PLANE_BASE)
        ),
    )
    a = v.select(
        F.col("bucket"),
        F.col("v_id").alias("vec_a"),
        F.col("v_vec").alias("va"),
        F.col("v_n2").alias("na"),
    )
    b = v.select(
        F.col("bucket"),
        F.col("v_id").alias("vec_b"),
        F.col("v_vec").alias("vb"),
        F.col("v_n2").alias("nb"),
    )
    cand = (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    sim = cos_q(dot_int("va", "vb"), "na", "nb")
    return cand.selectExpr("vec_a", "vec_b", f"{sim} AS cos_sim_q").filter(
        f"cos_sim_q >= {threshold_q}"
    )


def EMBED_NEARDUP_SQL(
    threshold_q: int = 950_000,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """Oracle twin of ``embed_neardup_pairs``: same quantization, same
    PAIR-layout bucket keys (plane signs baked as literals), same
    bucket self-join + exact cosine refine. ``table`` may be any
    relation/subquery exposing (id_col, vec_col)."""
    qv = QUANTIZED_SQL(vec_col)
    keys = LSH_TABLE_KEYS_SQL(qv, PAIR_TABLES, PAIR_BITS, PAIR_PLANE_BASE)
    return f"""
        WITH pre AS (
            SELECT {id_col} AS id, {qv} AS vec,
                   {DOT_INT_SQL(qv, qv)} AS n2,
                   {keys} AS keys
            FROM {table}
        ),
        bk AS (SELECT id, vec, n2, unnest(keys) AS bucket FROM pre),
        cand AS (
            SELECT DISTINCT a.id AS vec_a, b.id AS vec_b,
                   a.vec AS va, a.n2 AS na, b.vec AS vb, b.n2 AS nb
            FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id
        )
        SELECT vec_a, vec_b,
               {COS_Q_SQL(DOT_INT_SQL("va", "vb"), "na", "nb")} AS cos_sim_q
        FROM cand
        WHERE {COS_Q_SQL(DOT_INT_SQL("va", "vb"), "na", "nb")} >= {threshold_q}
    """
