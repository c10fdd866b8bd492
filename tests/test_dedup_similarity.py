"""Dedup + similarity operator properties beyond the oracle gate:
planted near-duplicates are found, LSH recall vs exact, determinism."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from changesetmd_spark.operators import dedup, similarity
from changesetmd_spark.profile import lsh_candidates


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "spark engines shuffle data across partitions when joins are wide and skewed",
        "a completely different text about mountains and snow and alpine villages",
    ]
    rows = []
    did = 0
    for b in base:
        for rep in range(3):  # 3 exact copies each
            rows.append((did, b))
            did += 1
        # near-dup: first word changed
        rows.append((did, b.replace(b.split()[0], "changedword", 1)))
        did += 1
    # unrelated fillers
    for i in range(30):
        rows.append((did, f"filler document number {i} with unique token tok{i} and more tok{i * 7}"))
        did += 1
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup_groups(spark, docs):
    out = dedup.exact_dedup(docs).toPandas()
    # 3 texts × 3 copies → three groups of n_dups=3
    assert (out.n_dups == 3).sum() == 3
    assert out.n_dups.sum() == docs.count()


def test_ngram_jaccard_finds_planted_neardups(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold_q=500000).toPandas()
    got = {(a, b) for a, b in zip(pairs.doc_a, pairs.doc_b)}
    # exact copies (jaccard 1.0) must all pair up: ids {0,1,2}, {4,5,6}, {8,9,10}
    for grp in ([0, 1, 2], [4, 5, 6], [8, 9, 10]):
        for i in grp:
            for j in grp:
                if i < j:
                    assert (i, j) in got
    # near-dup (one word) must clear τ=0.5 against its originals
    assert (0, 3) in got and (1, 3) in got


def test_ngram_df_cap_bounds_hot_shingle_fanout(spark):
    """One stop-phrase shingle shared by the whole corpus must not
    create a quadratic candidate set: with the df-cap active, docs that
    overlap ONLY in the hot shingle produce zero pairs, while a planted
    near-dup pair sharing rare shingles is still found."""
    hot = "the terms of service apply"  # 3-shingles shared by ALL docs
    rows = [(i, f"{hot} unique tail {i} token{i * 13} token{i * 29}") for i in range(120)]
    # planted near-dup pair with rare shared shingles
    rows.append((500, "rare alpine meadow crossing with seven marmots whistling loudly"))
    rows.append((501, "rare alpine meadow crossing with seven marmots whistling softly"))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    capped = dedup.ngram_jaccard_pairs(docs, threshold_q=500000, max_df=20).toPandas()
    got = {(a, b) for a, b in zip(capped.doc_a, capped.doc_b)}
    assert (500, 501) in got
    # the 120 hot-only docs share nothing after the cap → no pair blowup
    assert all(a >= 500 for a, _ in got), got
    # uncapped control: the hot shingle alone pulls every doc pair into
    # the candidate join (the 100 TB failure mode this cap removes)
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold_q=1, max_df=10**9)
    assert uncapped.count() > 5000


def test_minhash_lsh_equals_bruteforce_on_fixture(spark, docs):
    """LSH candidates + exact refine == full exact pairs at this scale
    (recall 1 here; the oracle gate enforces algorithm parity)."""
    exact = dedup.ngram_jaccard_pairs(docs, threshold_q=700000).toPandas()
    lsh = dedup.minhash_lsh_pairs(docs, threshold_q=700000).toPandas()
    key = lambda df: {(a, b, j) for a, b, j in zip(df.doc_a, df.doc_b, df.jaccard_q)}  # noqa: E731
    assert key(lsh) == key(exact)


def test_simhash_exact_copies_have_zero_hamming(spark, docs):
    pairs = dedup.simhash_pairs(docs, max_hamming=3).toPandas()
    z = {(a, b) for a, b, h in zip(pairs.doc_a, pairs.doc_b, pairs.hamming) if h == 0}
    assert (0, 1) in z and (4, 5) in z and (8, 9) in z


def test_simhash_scalar_set_and_oracle_parity(spark, docs):
    """The production path (simhash_sigs), DuckDB's scalar SimHash
    (SIMHASH_SQL) and its set-based twin (SIMHASH_SIGS_SQL) must agree
    bit-for-bit. Pins the 64-bit layout incl. the two's-complement top
    bit across engines."""
    import duckdb

    sigs = {r.id: r.sig for r in dedup.simhash_sigs(docs).collect()}
    # at least one doc must exercise the sign bit, else the top-weight
    # path is untested
    assert any(v < 0 for v in sigs.values())

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    scalar = {
        i: s
        for i, s in con.execute(
            f"SELECT doc_id, {dedup.SIMHASH_SQL('text')} FROM documents"
        ).fetchall()
    }
    setb = {
        i: s
        for i, s in con.execute(dedup.SIMHASH_SIGS_SQL()).fetchall()
    }
    assert scalar == sigs and setb == sigs


def test_tokenless_texts_pair_with_nothing_in_either_engine(spark):
    """A text with no token (null, empty or blank) has no shingles, so
    it pairs with no document, in Spark as in DuckDB. Unguarded, Spark
    gives each such text the shingle '' (size(null) = -1 and concat_ws
    of a null or empty slice is ''), pairing them all with each other."""
    import duckdb

    pdf = pd.DataFrame(
        {
            "doc_id": list(range(10)),
            "text": [None, None, None, None, "", "", "  ",
                     "the quick brown fox jumps", "the quick brown fox jumps",
                     "a quite unrelated sentence here"],
        }
    )
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pdf)

    def pairs(rows):
        return sorted((int(a), int(b), int(j)) for a, b, j in rows)

    want = [(7, 8, 1000000)]
    assert pairs(con.execute(dedup.NGRAM_JACCARD_SQL()).fetchall()) == want
    assert pairs(con.execute(dedup.MINHASH_LSH_SQL()).fetchall()) == want
    assert pairs(dedup.ngram_jaccard_pairs(docs).collect()) == want
    assert pairs(dedup.minhash_lsh_pairs(docs).collect()) == want
    clusters = dedup.dedup_clusters(docs.select("doc_id"), dedup.minhash_lsh_pairs(docs))
    got = {r.doc_id: r.cluster_id for r in clusters.collect()}
    assert got == dict(con.execute(dedup.DEDUP_CLUSTERS_SQL(dedup.MINHASH_LSH_SQL())).fetchall())
    assert got == {i: 7 if i == 8 else i for i in range(10)}


def test_simhash_band_collisions_stay_linear_on_random_corpus(spark):
    """The 100 TB guard the 64-bit widening buys: on a corpus of
    mutually-unrelated docs, LSH band buckets must produce ~no
    candidate pairs (expected 4·C(n,2)/2^16 ≈ 3 at n=300 — the round-2
    8-bit bands would give ~700)."""
    rows = [
        (i, f"uniq{i * 7919} tok{i * 104729} word{i * 1299709} tail{i}")
        for i in range(300)
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    sigs = dedup.simhash_sigs(docs)
    buckets = (
        dedup.band_keys(sigs, dedup.SH_BANDS, dedup.SH_BAND_BITS)
        .groupBy("band", "bits")
        .agg(F.count("*").alias("c"))
        .select((F.col("c") * (F.col("c") - 1) / 2).alias("pairs"))
        .agg(F.sum("pairs").alias("total"))
        .collect()[0]
        .total
    )
    assert buckets <= 30, f"band-collision candidates not linear: {buckets}"


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(42)
    v = rng.normal(size=(200, 64)).astype(np.float32)
    # plant near-dup of vec 0 at id 199
    v[199] = v[0] + rng.normal(scale=0.01, size=64).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": [row.tolist() for row in v]})
    return spark.createDataFrame(pdf)


def test_cosine_topk_finds_planted_neighbor(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    out = similarity.cosine_topk(q, vectors, k=3).toPandas()
    assert out.iloc[0].neighbor_id == 199
    assert out.iloc[0].cos_sim_q > 990000  # ~0.99+


def test_ann_lsh_recall_vs_bruteforce(spark, vectors):
    """Bucketed ANN must put the planted near-identical vector in the
    same bucket (tiny perturbation rarely flips 16 sign bits) and the
    overall top-1 recall across 20 queries should be high."""
    q = vectors.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(q, vectors, k=1).toPandas()
    approx = similarity.ann_lsh_topk(q, vectors, k=1).toPandas()
    e = dict(zip(exact.query_id, exact.neighbor_id))
    a = dict(zip(approx.query_id, approx.neighbor_id))
    assert a.get(0) == e[0] == 199
    hits = sum(1 for k in e if a.get(k) == e[k])
    assert hits >= 10  # ≥50% top-1 recall on random data, 16-bit buckets


def test_quantization_is_float32_exact():
    """floor(x·1e6) on float32→float64 is deterministic and total."""
    rng = np.random.default_rng(1)
    x = rng.normal(size=1000).astype(np.float32)
    q1 = np.floor(x.astype(np.float64) * 1_000_000)
    q2 = np.floor(x.astype(np.float64) * 1_000_000)
    assert (q1 == q2).all()


def test_ann_ivf_recall_and_planted_neighbor(spark, vectors):
    q = vectors.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(q, vectors, k=1).toPandas()
    ivf = similarity.ann_ivf_topk(q, vectors, k=1, n_centroids=24, nprobe=4).toPandas()
    e = dict(zip(exact.query_id, exact.neighbor_id))
    a = dict(zip(ivf.query_id, ivf.neighbor_id))
    # the planted near-identical vector shares its centroid list
    assert a.get(0) == e[0] == 199
    hits = sum(1 for k in e if a.get(k) == e[k])
    # random Gaussian vectors are IVF's worst case (no cluster
    # structure); recall here is deterministic — pinned at the
    # measured value so regressions are visible
    assert hits >= 10


def test_kmeans_recovers_planted_blobs_and_boosts_ivf(spark):
    """Lloyd's k-means on 4 well-separated Gaussian blobs must converge
    to one centroid per blob (every blob purely assigned), and IVF with
    the trained centroids must beat the naive first-k centroid set on
    clustered data."""
    rng = np.random.default_rng(3)
    centers = rng.normal(scale=5.0, size=(4, 64))
    n_per = 100
    vecs, blob = [], []
    for b in range(4):
        vecs.append(centers[b] + rng.normal(scale=0.05, size=(n_per, 64)))
        blob += [b] * n_per
    v = np.concatenate(vecs).astype(np.float32)
    order = rng.permutation(len(v))  # shuffle so init ids span blobs
    pdf = pd.DataFrame(
        {"vec_id": range(len(v)), "embedding": [r.tolist() for r in v[order]]}
    )
    blob_of = {i: blob[o] for i, o in enumerate(order)}
    vdf = spark.createDataFrame(pdf)

    cents = similarity.kmeans_fit(vdf, k=4, iters=5)
    assert cents.count() == 4
    prepped = similarity._prep(vdf, "vec_id", "embedding", "v_")
    assign = {
        r.v_id: r.ivf_cell
        for r in similarity.ivf_assign_lists(prepped, cents).collect()
    }
    # purity: every blob maps to exactly one trained centroid
    cell_by_blob = {}
    for vid, cell in assign.items():
        cell_by_blob.setdefault(blob_of[vid], set()).add(cell)
    assert all(len(cells) == 1 for cells in cell_by_blob.values()), cell_by_blob
    assert len({next(iter(c)) for c in cell_by_blob.values()}) == 4

    # trained centroids make IVF exact-recall on clustered data
    q = vdf.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(q, vdf, k=1).toPandas()
    trained = similarity.ann_ivf_topk(q, vdf, k=1, nprobe=1, centroids=cents).toPandas()
    e = dict(zip(exact.query_id, exact.neighbor_id))
    tr = dict(zip(trained.query_id, trained.neighbor_id))
    hits_trained = sum(1 for kk in e if tr.get(kk) == e[kk])
    assert hits_trained >= 18  # same-blob neighbors share the list

    naive = similarity.ann_ivf_topk(q, vdf, k=1, n_centroids=4, nprobe=1).toPandas()
    na = dict(zip(naive.query_id, naive.neighbor_id))
    hits_naive = sum(1 for kk in e if na.get(kk) == e[kk])
    assert hits_trained >= hits_naive


def test_ann_multiprobe_recall_at_least_plain(spark, vectors):
    """Multi-probe must dominate plain LSH: every plain candidate
    bucket is also probed, so top-1 recall vs brute force can only
    rise; and the planted near-identical pair must still be found."""
    q = vectors.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(q, vectors, k=1).toPandas()
    plain = similarity.ann_lsh_topk(q, vectors, k=1).toPandas()
    multi = similarity.ann_lsh_topk(q, vectors, k=1, multiprobe=True).toPandas()
    e = dict(zip(exact.query_id, exact.neighbor_id))
    p = dict(zip(plain.query_id, plain.neighbor_id))
    m = dict(zip(multi.query_id, multi.neighbor_id))
    hits_p = sum(1 for kk in e if p.get(kk) == e[kk])
    hits_m = sum(1 for kk in e if m.get(kk) == e[kk])
    assert hits_m >= hits_p
    assert m.get(0) == 199  # planted near-dup of vec 0


def test_weighted_greedy_seeds_spread_and_pad():
    """Driver-side k-means|| reduction: seeds spread across separated
    candidate groups by weight·distance, duplicates never picked while
    distinct candidates remain, and k > |candidates| pads."""
    a, b, c = [1000] * 64, [-1000] * 64, [1000] * 32 + [-1000] * 32
    cand = [a, a, b, c]
    w = {0: 50, 1: 50, 2: 30, 3: 20}
    seeds = similarity._weighted_greedy_seeds(cand, w, 3)
    assert [s[0] for s in seeds] == [0, 1, 2]
    vecs = [s[1] for s in seeds]
    assert a in vecs and b in vecs and c in vecs  # one per group, no dup-of-a
    padded = similarity._weighted_greedy_seeds([a], {0: 1}, 3)
    assert len(padded) == 3 and all(v == a for _, v in padded)


def test_embed_neardup_finds_planted_pairs(spark):
    rng = np.random.default_rng(99)
    v = rng.normal(size=(300, 64)).astype(np.float32)
    # plant three near-dup pairs
    for a, b in [(0, 250), (10, 260), (20, 270)]:
        v[b] = v[a] + rng.normal(scale=0.005, size=64).astype(np.float32)
    vecs = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(300), "embedding": [r.tolist() for r in v]})
    )
    out = similarity.embed_neardup_pairs(vecs, threshold_q=950_000).toPandas()
    got = {(a, b) for a, b in zip(out.vec_a, out.vec_b)}
    assert {(0, 250), (10, 260), (20, 270)} <= got
    # random non-dup vectors must NOT appear (max random cos ≪ 0.95)
    assert len(got) == 3


def test_embed_neardup_recall_on_many_planted_pairs(spark):
    """Recall ≥ 0.99 over 100 planted near-dup pairs with the wide
    PAIR-layout keys (the round-3 re-key must not cost recall)."""
    rng = np.random.default_rng(7)
    v = rng.normal(size=(400, 64)).astype(np.float32)
    planted = [(i, 200 + i) for i in range(100)]
    for a, b in planted:
        v[b] = v[a] + rng.normal(scale=0.005, size=64).astype(np.float32)
    vecs = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(400), "embedding": [r.tolist() for r in v]})
    )
    out = similarity.embed_neardup_pairs(vecs, threshold_q=950_000).toPandas()
    got = {(a, b) for a, b in zip(out.vec_a, out.vec_b)}
    hits = sum(1 for p in planted if p in got)
    assert hits >= 99, f"recall {hits}/100"


def test_embed_pair_bucket_collisions_stay_linear_on_random_corpus(spark):
    """The 100 TB guard the pairs re-key buys: on mutually-unrelated
    random vectors, the PAIR-layout buckets must produce ~no candidate
    pairs (expected 8·C(n,2)/2^16 ≈ 7 at n=400; topk's 6-bit layout
    would give ~5600 — the round-2 scale flag)."""
    rng = np.random.default_rng(11)
    v = rng.normal(size=(400, 64)).astype(np.float32)
    vecs = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(400), "embedding": [r.tolist() for r in v]})
    )
    q = F.expr(similarity.quantized("embedding"))
    keyed = vecs.select(
        F.explode(
            similarity.lsh_table_keys(
                q, similarity.PAIR_TABLES, similarity.PAIR_BITS, similarity.PAIR_PLANE_BASE
            )
        ).alias("bucket")
    )
    total = (
        keyed.groupBy("bucket")
        .agg(F.count("*").alias("c"))
        .select((F.col("c") * (F.col("c") - 1) / 2).alias("pairs"))
        .agg(F.sum("pairs").alias("t"))
        .collect()[0]
        .t
    )
    assert total <= 80, f"pair-bucket candidates not linear: {total}"


def _phash_images(docs):
    """Synthetic 64-bit phash: exact text copies share a hash, so the
    bands collide."""
    return docs.select(
        F.col("doc_id").alias("id"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long").alias("sig"),
    )


def _embed_buckets(vecs):
    keys = similarity.lsh_table_keys(
        F.expr(similarity.quantized("embedding")),
        similarity.PAIR_TABLES,
        similarity.PAIR_BITS,
        similarity.PAIR_PLANE_BASE,
    )
    return vecs.select(F.col("vec_id").alias("id"), F.explode(keys).alias("bucket"))


# family → (pairs operator, its bucket relation, the bucket columns,
# the hamming bound Catalyst fuses into the bucket join's condition)
_LSH_FAMILIES = {
    "simhash": lambda docs, vecs: (
        dedup.simhash_pairs(docs),
        dedup.band_keys(dedup.simhash_sigs(docs), dedup.SH_BANDS, dedup.SH_BAND_BITS),
        ["band", "bits"],
        dedup.SH_MAX_HAMMING,
    ),
    "phash": lambda docs, vecs: (
        dedup.phash_neardup_pairs(_phash_images(docs), id_col="id", phash_col="sig"),
        dedup.band_keys(_phash_images(docs), dedup.PH_BANDS, dedup.PH_BAND_BITS),
        ["band", "bits"],
        dedup.PH_MAX_HAMMING,
    ),
    "minhash": lambda docs, vecs: (
        dedup.minhash_lsh_pairs(docs), dedup.minhash_bands(docs), ["band", "band_sig"], None
    ),
    "embed": lambda docs, vecs: (
        similarity.embed_neardup_pairs(vecs), _embed_buckets(vecs), ["bucket"], None
    ),
}


def _bucket_join_rows(keyed, buckets, max_hamming):
    """Recount, outside Spark, the rows a bucket self-join with a < b
    emits: C(n, 2) per bucket, or, where the hamming refine sits in the
    join condition, the pairs per bucket within ``max_hamming``."""
    total = 0
    for _, g in keyed.toPandas().groupby(buckets):
        if max_hamming is None:
            total += len(g) * (len(g) - 1) // 2
            continue
        sigs = [int(x) for x in g["sig"]]
        total += sum(
            bin((sa ^ sb) & (2**64 - 1)).count("1") <= max_hamming
            for sa, sb in itertools.combinations(sigs, 2)
        )
    return total


@pytest.mark.parametrize("family", sorted(_LSH_FAMILIES))
def test_lsh_candidates_equal_bucket_recount(spark, docs, vectors, family):
    """lsh_candidates on the timed aggregate (the plan count() runs)
    equals an independent recount of the bucket self-join's rows."""
    pairs, keyed, buckets, max_hamming = _LSH_FAMILIES[family](docs, vectors)
    agg = pairs.groupBy().count()
    agg.collect()
    got = lsh_candidates(agg)
    assert got == _bucket_join_rows(keyed, buckets, max_hamming)
    # exact copies (and the planted vector near-dup) fill some bucket
    assert got > 0


def test_lsh_candidates_rejects_a_plan_that_never_ran(spark, docs):
    pairs = dedup.simhash_pairs(docs)
    agg = pairs.groupBy().count()
    pairs.count()  # runs a NEW Dataset: agg's plan never executes
    with pytest.raises(RuntimeError, match="not final"):
        lsh_candidates(agg)


def test_lsh_candidates_rejects_a_plan_without_a_bucket_join(spark, docs):
    agg = docs.alias("a").join(docs.alias("b"), "doc_id").groupBy().count()
    agg.collect()
    with pytest.raises(ValueError, match="found 0"):
        lsh_candidates(agg)


def test_lsh_candidates_rejects_two_bucket_joins(spark, docs):
    both = dedup.simhash_pairs(docs).select("doc_a", "doc_b").union(
        dedup.minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    )
    agg = both.groupBy().count()
    agg.collect()
    with pytest.raises(ValueError, match="found 2"):
        lsh_candidates(agg)


def test_dedup_clusters_transitive_closure(spark):
    """Pairs→clusters must be TRANSITIVE: a chain A~B, B~C, C~D
    collapses to one cluster labeled min-id even though (A,C), (A,D),
    (B,D) never met a threshold; singletons cluster to themselves."""
    ids = spark.range(10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        # chain 0-1-2-3, pair (7,8), reversed order pair (6,5)
        [(0, 1), (1, 2), (2, 3), (7, 8), (6, 5)], "doc_a long, doc_b long"
    )
    out = dedup.dedup_clusters(ids, pairs)
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7, 8: 7, 9: 9}


def test_dedup_clusters_nonconvergence_raises(spark):
    ids = spark.range(4).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dedup_clusters(ids, pairs, max_iter=1)


def test_dedup_clusters_bigstar_matches_propagation(spark):
    """The O(log n) large-star/small-star variant must produce the
    exact same clustering as min-label propagation on a mixed random
    graph (chains, stars, singletons, reversed pairs)."""
    import numpy as np

    rng = np.random.default_rng(31)
    n = 400
    ids = spark.range(n).select(F.col("id").alias("doc_id"))
    a = rng.integers(0, n, 300)
    b = rng.integers(0, n, 300)
    pairs = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b) if x != y], "doc_a long, doc_b long"
    )
    prop = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(ids, pairs).collect()}
    star = {
        r.doc_id: r.cluster_id
        for r in dedup.dedup_clusters(ids, pairs, method="bigstar").collect()
    }
    assert star == prop and len(star) == n


def test_dedup_clusters_bigstar_converges_on_long_chain(spark):
    """VERDICT r4 item 6: a 10k-node PATH graph — diameter 10k, where
    propagation would need 10k rounds and raises at max_iter — must
    converge under bigstar in O(log n) rounds and label every node
    with the chain's minimum."""
    n = 10_000
    ids = spark.range(n).select(F.col("id").alias("doc_id"))
    # path 0-1-2-...-n-1, shuffled pair orientation to avoid luck
    pairs = spark.range(n - 1).select(
        F.when(F.col("id") % 3 == 0, F.col("id")).otherwise(F.col("id") + 1).alias("doc_a"),
        F.when(F.col("id") % 3 == 0, F.col("id") + 1).otherwise(F.col("id")).alias("doc_b"),
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dedup_clusters(ids, pairs, max_iter=8)
    out = dedup.dedup_clusters(ids, pairs, method="bigstar", max_iter=30)
    assert out.filter(F.col("cluster_id") != 0).count() == 0
    assert out.count() == n


def test_stratified_sample_deterministic_and_proportional(spark):
    """Same input → identical sample (no rand()); per-stratum keep
    rate tracks the requested ppm; unlisted strata get default_ppm."""
    from changesetmd_spark.operators import sampling

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").when(F.col("id") % 3 == 1, "zh")
        .otherwise("xx").alias("lang"),
    )
    frac = {"en": 500_000, "zh": 100_000}
    s1 = sampling.stratified_sample(df, "lang", frac, "doc_id").collect()
    s2 = sampling.stratified_sample(df, "lang", frac, "doc_id").collect()
    assert sorted(r.doc_id for r in s1) == sorted(r.doc_id for r in s2)
    by = {}
    for r in s1:
        by[r.lang] = by.get(r.lang, 0) + 1
    n_per = 4000 // 3
    assert abs(by["en"] / n_per - 0.5) < 0.05
    assert abs(by["zh"] / n_per - 0.1) < 0.03
    assert "xx" not in by  # default_ppm=0 drops unlisted strata
    s3 = sampling.stratified_sample(df, "lang", frac, "doc_id", default_ppm=PPM_ALL)
    assert s3.filter(F.col("lang") == "xx").count() == n_per  # ppm=1e6 keeps all


PPM_ALL = 1_000_000


def test_quota_sample_exact_budget_and_determinism(spark):
    """quota_sample keeps exactly min(quota, |stratum|) rows per
    stratum, deterministically (same draw on re-run), and small strata
    survive whole."""
    from changesetmd_spark.operators import sampling

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 900, "big").otherwise("small").alias("lang"),
    )
    s1 = sampling.quota_sample(df, "lang", 50, "doc_id").collect()
    s2 = sampling.quota_sample(df, "lang", 50, "doc_id").collect()
    assert sorted(r.doc_id for r in s1) == sorted(r.doc_id for r in s2)
    by = {}
    for r in s1:
        by[r.lang] = by.get(r.lang, 0) + 1
    assert by == {"big": 50, "small": 50}
    tiny = sampling.quota_sample(df.filter(F.col("doc_id") >= 990), "lang", 50, "doc_id")
    assert tiny.count() == 10  # stratum smaller than quota survives whole


def test_cells_udf_rejects_norms_past_the_float64_exact_bound(spark):
    """The IVF assignment matmul is integer-exact only while every
    partial sum stays below 2^53, i.e. while both squared norms do. A
    vector batch past the bound fails the job and a centroid set past
    it fails at once, naming the bound, instead of returning inexact
    cells."""
    def prep(x):
        vdf = spark.createDataFrame(pd.DataFrame({"vec_id": [0], "embedding": [[x] * similarity.DIM]}))
        return similarity._prep(vdf, "vec_id", "embedding", "v_")

    cents = similarity._centroid_frame(spark, [(0, [1_000_000] * similarity.DIM)])
    assert [r.ivf_cell for r in similarity.ivf_assign_lists(prep(0.5), cents).collect()] == [0]
    with pytest.raises(Exception, match=r"vector squared norm is 1\.6e\+17 >= 2\^53"):
        similarity.ivf_assign_lists(prep(50.0), cents).collect()  # quantized 5e7 per element
    huge = similarity._centroid_frame(spark, [(0, [200_000_000] * similarity.DIM)])
    with pytest.raises(ValueError, match=r"centroid squared norm is 2\.56e\+18 >= 2\^53"):
        similarity.ivf_assign_lists(prep(0.5), huge)
