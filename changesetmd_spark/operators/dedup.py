"""Deduplication family for training-data pipelines (task brief):
exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB: every method is a *sparse* similarity join — no
all-pairs stage ever materializes. Candidates come from inverted
indexes (shared shingle / LSH band / SimHash band), which are hash
equi-joins Catalyst can shuffle-partition; the exact refine runs only
on candidates. Outputs are deterministic and every algorithm is
replicated 1:1 in ANSI SQL for the DuckDB oracle (same hashes — md5
prefixes — same band layout, same quantization), so the gate checks
the *algorithm*, not a vague approximation of it.

Pair convention: undirected, emitted once with doc_a < doc_b.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import TOKEN_HASH_HI_SQL, TOKEN_HASH_SQL, TOKENS_SQL, token_hash, token_hash_hi, tokens

# MinHash parameters (shared by Spark + oracle SQL)
N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS
MH_PRIME = 4294967311  # smallest prime > 2^32
JACCARD_T_Q = 700000  # τ = 0.70 quantized ×1e6
SHINGLE_K = 3
# document-frequency cap for the exact-Jaccard inverted index: a
# shingle shared by d docs yields d²/2 candidate pairs in the
# self-join, so one stop-phrase shingle is quadratic at corpus scale.
# Shingles with df > cap are dropped from the index AND from the
# per-doc set sizes (classic frequency filtering) — i.e. the operator
# computes Jaccard over the df-capped shingle sets, mirrored 1:1 in
# the oracle SQL.
NGRAM_MAX_DF = 200

# SimHash parameters: 64-bit signature (two independent 32-bit md5
# halves per token), 4 bands × 16 bits, hamming ≤ 3. Band width is THE
# corpus-scale knob: a random doc pair collides on a band with
# p = 2^-16, so spurious candidates grow as 4·n²/65536 — the same
# layout the 64-bit phash path uses below. (Round 2 shipped 32-bit
# sigs with 8-bit bands: n²/256 candidate pairs — quadratic at 10^9
# docs.) Bit 63 is carried in two's complement (weight −2^63) so the
# signature stays an int64 without overflow; band extraction masks
# after the shift, which yields identical bits for negative sigs in
# both engines (probed: Spark shiftrightunsigned vs DuckDB arithmetic
# >> followed by & mask agree).
SH_BITS = 64
SH_BANDS = 4
SH_BAND_BITS = SH_BITS // SH_BANDS
SH_MAX_HAMMING = 3
SH_TOP_WEIGHT = -(1 << 63)


def _sh_bit_weight(b: int) -> int:
    return SH_TOP_WEIGHT if b == SH_BITS - 1 else (1 << b)


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: md5 grouping, keep the smallest id per group.
    Returns (kept_id, n_dups). One shuffle, map-side partial agg."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("_h"))
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count("*").alias("n_dups"),
        )
        .drop("_h")
        .select("kept_id", "n_dups")
    )


def EXACT_DEDUP_SQL(id_col: str = "doc_id", text_col: str = "text", table: str = "documents") -> str:
    return f"""
        SELECT min({id_col}) AS kept_id, count(*) AS n_dups
        FROM {table} GROUP BY md5({text_col})
    """


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------

def shingles(text: str) -> str:
    """Spark SQL text: the distinct k-word shingles of a document
    (array<string>). Short docs (<k tokens) produce one whole-text
    shingle; a text with no token (null, empty or blank) has none, as
    in DuckDB. ``concat_ws`` makes '' of such a text's null or empty
    slice and no real shingle is '', so '' is removed: kept, it would
    pair every token-less text with every other one."""
    toks = tokens(text)
    return (
        f"array_remove(array_distinct(transform(sequence(1, greatest(size({toks}) - {SHINGLE_K - 1}, 1)), "
        f"i -> concat_ws(' ', slice({toks}, i, {SHINGLE_K})))), '')"
    )


def SHINGLES_SQL(text: str) -> str:
    toks = TOKENS_SQL(text)
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({toks}) - {SHINGLE_K - 1}, 1)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {SHINGLE_K - 1}), ' ')))"
    )


def _exploded_shingle_hashes(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh) rows: one per distinct shingle hash per doc."""
    return docs.selectExpr(
        f"{id_col} AS id", f"explode({shingles(text_col)}) AS _s"
    ).selectExpr("id", f"{token_hash('_s')} AS sh")


def _jaccard_pairs(common: DataFrame, sizes: DataFrame, threshold_q: int) -> DataFrame:
    """(doc_a, doc_b, jaccard_q) ≥ τ from per-pair common-shingle
    counts and per-doc set sizes: |A∪B| = |A| + |B| − common."""
    sa = sizes.selectExpr("id AS doc_a", "n_sh AS n_a")
    sb = sizes.selectExpr("id AS doc_b", "n_sh AS n_b")
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "doc_a", "doc_b", "floor(n_common * 1000000 / (n_a + n_b - n_common)) AS jaccard_q"
        )
        .filter(f"jaccard_q >= {threshold_q}")
    )


def _SHINGLE_HASHES_SQL(id_col: str, text_col: str, table: str) -> str:
    return f"""
        SELECT {id_col} AS id, {TOKEN_HASH_SQL('s')} AS sh
        FROM (SELECT {id_col}, unnest({SHINGLES_SQL(text_col)}) AS s FROM {table})
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact sparse similarity join)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold_q: int = JACCARD_T_Q,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ τ over the df-capped
    shingle sets (see NGRAM_MAX_DF — shingles hotter than ``max_df``
    docs are dropped before the self-join, bounding any shingle's
    candidate fan-out at max_df²/2 instead of corpus²). Inverted-index
    join on shingle hash, count common per pair, |A∪B| = |A|+|B|−common.
    Returns (doc_a, doc_b, jaccard_q).

    Scale shape: the hot-shingle set is tiny BY CONSTRUCTION (each
    survivor of the HAVING > max_df filter represents > max_df rows),
    so it broadcasts; the cap itself is one map-side-combined groupBy.
    The exploded index is materialized ONCE (localCheckpoint — slim
    (id, sh) longs) and its four consumers (df-counts, sizes, both
    self-join sides) read the stored blocks instead of re-running the
    tokenize+shingle explode 4×; a durable pipeline at 100 TB writes
    this index to storage between stages — same dataflow, swap the
    checkpoint for a table write.
    """
    sh_all = _exploded_shingle_hashes(docs, id_col, text_col).localCheckpoint()
    hot = (
        sh_all.groupBy("sh")
        .agg(F.expr("count(*) AS _df"))
        .filter(f"_df > {max_df}")
        .selectExpr("sh")
    )
    sh = sh_all.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy("id").agg(F.expr("count(*) AS n_sh"))
    common = (
        sh.alias("a")
        .join(sh.alias("b"), F.expr("a.sh = b.sh AND a.id < b.id"))
        .groupBy(F.expr("a.id AS doc_a"), F.expr("b.id AS doc_b"))
        .agg(F.expr("count(*) AS n_common"))
    )
    return _jaccard_pairs(common, sizes, threshold_q)


def NGRAM_JACCARD_SQL(
    threshold_q: int = JACCARD_T_Q,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    max_df: int = NGRAM_MAX_DF,
) -> str:
    sh_all = _SHINGLE_HASHES_SQL(id_col, text_col, table)
    return f"""
        WITH sh_all AS ({sh_all}),
        hot AS (SELECT sh FROM sh_all GROUP BY sh HAVING count(*) > {max_df}),
        sh AS (SELECT * FROM sh_all WHERE sh NOT IN (SELECT sh FROM hot)),
        sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
        common AS (
            SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
            GROUP BY a.id, b.id
        )
        SELECT doc_a, doc_b,
               CAST(floor(n_common * 1000000 / (sa.n_sh + sb.n_sh - n_common)) AS BIGINT) AS jaccard_q
        FROM common
        JOIN sizes sa ON sa.id = doc_a
        JOIN sizes sb ON sb.id = doc_b
        WHERE floor(n_common * 1000000 / (sa.n_sh + sb.n_sh - n_common)) >= {threshold_q}
    """


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

def minhash_bands(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, band, band_sig) in ONE aggregation pass (r6 rework).

    Permutation j of a shingle hash h: (a_j·h + b_j) mod P with
    a_j·h ≤ 33·2^32 ≈ 1.4e11 — ANSI-safe. The r5 shape exploded every
    (id, sh) row × N_PERM permutations and aggregated twice (per-perm
    minima, then per-band polynomial folds) — 16× the shuffle rows and
    two exchanges. Here each shingle row computes all N_PERM
    permutation values as columns, ONE map-side-combined groupBy(id)
    takes the N_PERM minima, and the band signatures fold as plain
    column arithmetic (sig_b = Σ_w min_{4b+w}·31^w mod P, exactly the
    order-fixed polynomial the oracle replicates; min < P ≈ 4.3e9
    × 31³ < 2^63 — ANSI-safe). Values bit-identical to the r5 shape
    (same minima, same fold), pinned by the unchanged oracle gate."""
    return _minhash_bands(_exploded_shingle_hashes(docs, id_col, text_col))


def _minhash_bands(sh: DataFrame) -> DataFrame:
    """``minhash_bands`` over an (id, sh) shingle-hash frame. Each
    minimum and the whole band array are one SQL string apiece."""
    sig = sh.groupBy("id").agg(
        *[
            F.expr(f"min(pmod({p * 2 + 1} * sh + {p * 7919 + 13}, {MH_PRIME})) AS _m{p}")
            for p in range(N_PERM)
        ]
    )

    def band_sig(b: int) -> str:
        terms = " + ".join(
            f"pmod(_m{b * ROWS_PER_BAND + w} * {31**w}, {MH_PRIME})" for w in range(ROWS_PER_BAND)
        )
        return f"pmod({terms}, {MH_PRIME})"

    bands = ", ".join(
        f"struct(CAST({b} AS BIGINT) AS band, {band_sig(b)} AS band_sig)" for b in range(N_BANDS)
    )
    return sig.selectExpr("id", f"explode(array({bands})) AS _bd").selectExpr(
        "id", "_bd.band AS band", "_bd.band_sig AS band_sig"
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold_q: int = JACCARD_T_Q,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup detection: candidates = pairs sharing any
    LSH band signature; refine = exact shingle Jaccard ≥ τ on the
    candidate set only. Returns (doc_a, doc_b, jaccard_q).

    At scale the candidate join is a hash equi-join on (band,
    band_sig) — the classic LSH bucket join; the refine re-joins the
    shingle index only for candidate pairs. The index is NOT
    checkpointed here (measured slower: each consumer pipelines the
    cheap explode into its own codegen stage, and eager materialization
    breaks that — unlike ngram_jaccard where the df-cap pass made a 4th
    full recompute). One (id, sh) frame feeds the bands, the sizes and
    the refine; Spark still plans one explode per consumer.
    """
    sh = _exploded_shingle_hashes(docs, id_col, text_col)
    sizes = sh.groupBy("id").agg(F.expr("count(*) AS n_sh"))
    bands = _minhash_bands(sh)
    cands = (
        bands.alias("ba")
        .join(
            bands.alias("bb"),
            F.expr("ba.band = bb.band AND ba.band_sig = bb.band_sig AND ba.id < bb.id"),
        )
        .selectExpr("ba.id AS doc_a", "bb.id AS doc_b")
        .distinct()
    )
    a = sh.selectExpr("id AS doc_a", "sh AS sh_a")
    b = sh.selectExpr("id AS _bid", "sh AS sh_b")
    common = (
        cands.join(a, "doc_a")
        .join(b, F.expr("doc_b = _bid AND sh_a = sh_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.expr("count(*) AS n_common"))
    )
    return _jaccard_pairs(common, sizes, threshold_q)


def MINHASH_LSH_SQL(
    threshold_q: int = JACCARD_T_Q,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    sh = _SHINGLE_HASHES_SQL(id_col, text_col, table)
    return f"""
        WITH sh AS ({sh}),
        sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
        mh AS (
            SELECT id, perm, min(((perm * 2 + 1) * sh + (perm * 7919 + 13)) % {MH_PRIME}) AS minhash
            FROM sh, (SELECT unnest(generate_series(0, {N_PERM - 1})) AS perm)
            GROUP BY id, perm
        ),
        bands AS (
            SELECT id, CAST(floor(perm / {ROWS_PER_BAND}) AS BIGINT) AS band,
                   SUM((minhash * CAST(pow(31.0, perm % {ROWS_PER_BAND}) AS BIGINT)) % {MH_PRIME}) % {MH_PRIME} AS band_sig
            FROM mh GROUP BY 1, 2
        ),
        cands AS (
            SELECT DISTINCT ba.id AS doc_a, bb.id AS doc_b
            FROM bands ba JOIN bands bb
              ON ba.band = bb.band AND ba.band_sig = bb.band_sig AND ba.id < bb.id
        ),
        common AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_common
            FROM cands c
            JOIN sh a ON a.id = c.doc_a
            JOIN sh b ON b.id = c.doc_b AND a.sh = b.sh
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT doc_a, doc_b,
               CAST(floor(n_common * 1000000 / (sa.n_sh + sb.n_sh - n_common)) AS BIGINT) AS jaccard_q
        FROM common
        JOIN sizes sa ON sa.id = doc_a
        JOIN sizes sb ON sb.id = doc_b
        WHERE floor(n_common * 1000000 / (sa.n_sh + sb.n_sh - n_common)) >= {threshold_q}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def SIMHASH_SQL(text: str) -> str:
    """Scalar DuckDB SimHash of ``text`` (one expression per row; the
    gate's set-based twin of ``simhash_sigs`` is SIMHASH_SIGS_SQL —
    same bits)."""
    toks = f"list_distinct({TOKENS_SQL(text)})"
    h_lo = f"list_transform({toks}, t -> {TOKEN_HASH_SQL('t')})"
    h_hi = f"list_transform({toks}, t -> {TOKEN_HASH_HI_SQL('t')})"
    parts = []
    for b in range(SH_BITS):
        hashes = h_lo if b < 32 else h_hi
        bs = (
            f"list_reduce(list_prepend(0, list_transform({hashes}, "
            f"h -> CASE WHEN (h >> {b % 32}) & 1 = 1 THEN 1 ELSE -1 END)), (a, x) -> a + x)"
        )
        parts.append(
            f"(CASE WHEN {bs} > 0 THEN CAST({_sh_bit_weight(b)} AS BIGINT) ELSE 0 END)"
        )
    return "(" + " + ".join(parts) + ")"


def simhash_sigs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, sig): 64-bit SimHash over a document's distinct tokens. Bit
    b of sig is 1 iff Σ_tokens (±1 per token hash's bit b) > 0; bits
    0-31 come from token_hash (md5 chars 1-8), bits 32-63 from
    token_hash_hi (chars 9-16), and bit 63 is the sign bit
    (two's-complement weight −2^63).

    Explode + 64 codegen'd conditional-sum aggregates (map-side partial
    combine, one shuffle on id): the per-token work runs inside
    whole-stage codegen, where a fold over higher-order array lambdas
    would evaluate interpreted per element (~2× slower at bench scale).
    Token-less docs (empty or null text) keep sig = 0 via the final
    left join. The explode, the votes and the fold are one SQL string
    apiece."""
    ex = docs.selectExpr(
        f"{id_col} AS id", f"explode(array_distinct({tokens(text_col)})) AS _t"
    ).selectExpr("id", f"{token_hash('_t')} AS _h1", f"{token_hash_hi('_t')} AS _h2")
    votes = [
        F.expr(
            f"sum(CASE WHEN shiftright({'_h1' if b < 32 else '_h2'}, {b % 32}) & 1 = 1 "
            f"THEN 1 ELSE -1 END) AS _v{b}"
        )
        for b in range(SH_BITS)
    ]
    sig = " + ".join(
        f"CASE WHEN _v{b} > 0 THEN CAST({_sh_bit_weight(b)} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(SH_BITS)
    )
    with_sig = ex.groupBy("id").agg(*votes).selectExpr("id", f"{sig} AS sig")
    return (
        docs.selectExpr(f"{id_col} AS id")
        .join(with_sig, "id", "left")
        .selectExpr("id", "coalesce(sig, CAST(0 AS BIGINT)) AS sig")
    )


def SIMHASH_SIGS_SQL(id_col: str = "doc_id", text_col: str = "text", table: str = "documents") -> str:
    """Set-based oracle twin of ``simhash_sigs``: unnest tokens, 64
    conditional vote sums per doc, fold to one BIGINT. Mirrors the
    Spark dataflow (and is ~SH_BITS× cheaper than inlining the scalar
    SIMHASH_SQL per row)."""
    toks = f"list_distinct({TOKENS_SQL(text_col)})"
    vote_cols = ", ".join(
        f"SUM(CASE WHEN ({'h1' if b < 32 else 'h2'} >> {b % 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SH_BITS)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({_sh_bit_weight(b)} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for b in range(SH_BITS)
    )
    return f"""
        WITH ex AS (
            SELECT id, {TOKEN_HASH_SQL('t')} AS h1, {TOKEN_HASH_HI_SQL('t')} AS h2
            FROM (SELECT {id_col} AS id, unnest({toks}) AS t FROM {table})
        ),
        votes AS (SELECT id, {vote_cols} FROM ex GROUP BY id),
        sigd AS (SELECT id, {sig_expr} AS sig FROM votes)
        SELECT t.id, COALESCE(s.sig, 0) AS sig
        FROM (SELECT {id_col} AS id FROM {table}) t
        LEFT JOIN sigd s USING (id)
    """



def band_keys(sigs: DataFrame, n_bands: int, band_bits: int) -> DataFrame:
    """(id, sig, band, bits): each int64 signature exploded into its
    LSH band bucket keys. Works for negative sigs too (a 64-bit family
    uses bit 63 in two's complement): shiftrightunsigned + mask yields
    the same band bits as DuckDB's arithmetic ``>>`` + mask."""
    mask = (1 << band_bits) - 1
    bands = ", ".join(
        f"struct({i} AS band, shiftrightunsigned(sig, {i * band_bits}) & {mask} AS bits)"
        for i in range(n_bands)
    )
    return sigs.selectExpr("id", "sig", f"explode(array({bands})) AS bd").selectExpr(
        "id", "sig", "bd.band AS band", "bd.bits AS bits"
    )


def _banded_hamming_pairs(
    sigs: DataFrame,
    n_bands: int,
    band_bits: int,
    max_hamming: int,
    a_name: str,
    b_name: str,
) -> DataFrame:
    """Shared band-LSH hamming machinery (SimHash over text, phash over
    images — any int64 signature family): explode each (id, sig) into
    its bands, candidates = band equi-join (pigeonhole: hamming <
    n_bands ⇒ some band matches exactly), refine bit_count(xor) ≤ d."""
    if not max_hamming < n_bands:
        raise ValueError("pigeonhole requires max_hamming < n_bands")
    bands = band_keys(sigs, n_bands, band_bits)
    matches = (
        bands.alias("a")
        .join(bands.alias("b"), F.expr("a.band = b.band AND a.bits = b.bits AND a.id < b.id"))
        .selectExpr(f"a.id AS {a_name}", f"b.id AS {b_name}", "a.sig AS sig_a", "b.sig AS sig_b")
    )
    # refine BEFORE the dedup shuffle (r6). The hamming test is a
    # per-row codegen filter, so running it on the raw banded matches
    # costs nothing extra — while distinct-first shuffled every
    # spurious band collision (1.96M candidate rows for simhash at
    # bench scale) just to discard them a node later. Filter-then-
    # distinct is row-for-row identical output (the filter is
    # deterministic per row), but the exchange now carries only the
    # surviving near-dup pairs.
    return (
        matches.selectExpr(a_name, b_name, "CAST(bit_count(sig_a ^ sig_b) AS BIGINT) AS hamming")
        .filter(f"hamming <= {max_hamming}")
        .distinct()
    )


def _BANDED_HAMMING_SQL(
    sigs_sql: str, n_bands: int, band_bits: int, max_hamming: int, a_name: str, b_name: str
) -> str:
    """SQL twin of _banded_hamming_pairs over a (id, sig) CTE body."""
    return f"""
        WITH sigs AS ({sigs_sql}),
        bands AS (
            SELECT id, sig, band,
                   (sig >> (band * {band_bits})) & {(1 << band_bits) - 1} AS bits
            FROM sigs, (SELECT unnest(generate_series(0, {n_bands - 1})) AS band)
        ),
        cands AS (
            SELECT DISTINCT a.id AS {a_name}, b.id AS {b_name}, a.sig AS sig_a, b.sig AS sig_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bits = b.bits AND a.id < b.id
        )
        SELECT {a_name}, {b_name}, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
        FROM cands WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
    """


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = SH_MAX_HAMMING,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ d — the shared
    band-LSH machinery over the 64-bit text signatures. Returns
    (doc_a, doc_b, hamming)."""
    # NOT checkpointed: measured slower than recompute here — the two
    # consumers pipeline into one codegen stage each (see module notes)
    sigs = simhash_sigs(docs, id_col, text_col)
    return _banded_hamming_pairs(sigs, SH_BANDS, SH_BAND_BITS, max_hamming, "doc_a", "doc_b")


def SIMHASH_PAIRS_SQL(
    max_hamming: int = SH_MAX_HAMMING,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    sigs = SIMHASH_SIGS_SQL(id_col, text_col, table)
    return _BANDED_HAMMING_SQL(sigs, SH_BANDS, SH_BAND_BITS, max_hamming, "doc_a", "doc_b")


# ---------------------------------------------------------------------------
# perceptual image dedup — phash hamming LSH (the images-table sibling
# of SimHash: near-duplicate IMAGES share a 64-bit perceptual hash
# within a few flipped bits)
# ---------------------------------------------------------------------------

PH_BITS = 64
PH_BANDS = 4
PH_BAND_BITS = PH_BITS // PH_BANDS
PH_MAX_HAMMING = 3  # must stay < PH_BANDS for the pigeonhole guarantee


def phash_neardup_pairs(
    images: DataFrame,
    max_hamming: int = PH_MAX_HAMMING,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash hamming distance —
    the shared band-LSH machinery over the 64-bit phash (16-bit bands
    keep random collisions at n²/2^16 per band). The image-table
    sibling of SimHash (task brief's image-dedup family). Returns
    (img_a, img_b, hamming)."""
    sigs = images.selectExpr(f"{id_col} AS id", f"{phash_col} AS sig")
    return _banded_hamming_pairs(sigs, PH_BANDS, PH_BAND_BITS, max_hamming, "img_a", "img_b")


def PHASH_NEARDUP_SQL(
    phash_expr: str,
    from_clause: str,
    id_expr: str,
    max_hamming: int = PH_MAX_HAMMING,
) -> str:
    """Oracle twin of phash_neardup_pairs over an arbitrary
    (id, phash) derivation: ``from_clause`` supplies the table, the
    two expressions the columns."""
    sigs = f"SELECT {id_expr} AS id, {phash_expr} AS sig {from_clause}"
    return _BANDED_HAMMING_SQL(sigs, PH_BANDS, PH_BAND_BITS, max_hamming, "img_a", "img_b")


# ---------------------------------------------------------------------------
# cluster resolution — pairs → connected components
# ---------------------------------------------------------------------------

def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
    method: str = "propagation",
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS: every id
    is labeled with the minimum id of its connected component in the
    pair graph (the canonical survivor a training pipeline keeps).
    Pairs alone under-delete: {A~B, B~C} must collapse A,B,C to one
    document even when (A,C) never met a similarity threshold.

    Iterative min-label propagation: each round every vertex adopts
    min(own label, neighbors' labels) — one equi-join + one map-side-
    combined groupBy per round, labels localCheckpoint'ed so the plan
    stays flat. Converges in O(component diameter) rounds; near-dup
    components are star-like (diameter ≲ 4), so 3-5 rounds in
    practice, with a loud failure at ``max_iter`` rather than a silent
    partial clustering. At 10⁹+ vertices the same loop holds (labels
    are one slim (id, comp) relation; swap localCheckpoint for a table
    write between rounds).

    ``method="bigstar"`` switches to the two-phase large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): O(log n) rounds regardless of component
    DIAMETER, so pathological chain graphs — where propagation needs
    O(n) rounds and raises at ``max_iter`` — converge in a dozen
    rounds (property-tested on a 10k-node path). Similarity graphs
    have bounded diameter by construction, so propagation (fewer,
    cheaper rounds, no edge-set rewrite) stays the default.

    Returns (id_col, cluster_id): total over ``ids`` — singletons
    cluster to themselves.
    """
    if method == "bigstar":
        return _dedup_clusters_bigstar(ids, pairs, id_col, a_col, b_col, max_iter)
    if method != "propagation":
        raise ValueError(f"unknown method {method!r} (propagation | bigstar)")
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = ids.select(F.col(id_col).alias("id"), F.col(id_col).alias("comp")).localCheckpoint()
    for _ in range(max_iter):
        msgs = edges.join(labels.withColumnRenamed("id", "src"), "src").select(
            F.col("dst").alias("id"), "comp"
        )
        new_labels = (
            labels.unionByName(msgs).groupBy("id").agg(F.min("comp").alias("comp"))
        ).localCheckpoint()
        changed = (
            new_labels.join(labels.withColumnRenamed("comp", "_old"), "id")
            .filter(F.col("comp") != F.col("_old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("id").alias(id_col), F.col("comp").alias("cluster_id"))
    raise RuntimeError(f"dedup_clusters did not converge in {max_iter} rounds")


def _dedup_clusters_bigstar(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
    max_iter: int,
) -> DataFrame:
    """Two-phase large-star/small-star connected components.

    Each round rewrites the EDGE SET (not labels):
    - large-star: every node u links its strictly-larger neighbors to
      m = min(u ∪ N(u)) — hooks tall branches straight onto minima;
    - small-star: every node u links its not-larger neighbors AND
      itself to m = min over those — flattens what large-star built.
    Components halve in height per round ⇒ O(log n) rounds; at the
    fixpoint the edges are stars (x → component-min), so the final
    label is one groupBy-min + one left join against ``ids``.
    Both phases are a groupBy + an equi-join over the slim (u, v) edge
    relation — the same shuffle shape as one propagation round, just
    with edge rewriting, which is why propagation wins on bounded-
    diameter similarity graphs and this wins on chains."""
    E = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _large(edges: DataFrame) -> DataFrame:
        nb = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nb.groupBy("u").agg(F.min("v").alias("_mn"))
        m = F.least(F.col("u"), F.col("_mn"))
        return (
            nb.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small(edges: DataFrame) -> DataFrame:
        down = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = down.groupBy("u").agg(F.min("v").alias("_mn"))
        linked = down.join(mins, "u")
        return (
            linked.select(F.col("v").alias("u"), F.col("_mn").alias("v"))
            .unionByName(mins.select("u", F.col("_mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    for _ in range(max_iter):
        new_E = _small(_large(E)).localCheckpoint()
        changed = (
            new_E.exceptAll(E).count() + E.exceptAll(new_E).count()
        )
        E = new_E
        if changed == 0:
            break
    else:
        raise RuntimeError(f"dedup_clusters(bigstar) did not converge in {max_iter} rounds")
    # fixpoint edges are stars: x → its component min
    star = E.groupBy("u").agg(F.min("v").alias("comp"))
    return (
        ids.select(F.col(id_col).alias("id"))
        .join(star.withColumnRenamed("u", "id"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("comp"), F.col("id")).alias("cluster_id"),
        )
    )


def DEDUP_CLUSTERS_SQL(
    pairs_sql: str,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    table: str = "documents",
) -> str:
    """Oracle twin: transitive closure by recursive CTE — every id
    reaches every component member through the (symmetrized) edges, so
    min(reached label) == min id of the component. UNION (not UNION
    ALL) dedupes rows, guaranteeing the fixpoint terminates."""
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
            SELECT {a_col} AS a, {b_col} AS b FROM pairs
            UNION
            SELECT {b_col} AS a, {a_col} AS b FROM pairs
        ),
        cc(id, comp) AS (
            SELECT {id_col}, {id_col} FROM {table}
            UNION
            SELECT e.b, c.comp FROM cc c JOIN edges e ON e.a = c.id
        )
        SELECT id AS {id_col}, min(comp) AS cluster_id FROM cc GROUP BY id
    """
