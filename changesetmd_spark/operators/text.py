"""Text analytics over document/caption columns (task brief: language
ID, quality scoring, token counting, fingerprinting).

The reference's only text columns are ``comment_text`` and the tags
map (queries.py:24-26, changesetmd.py:223-234); these operators
generalize them for a training-data pipeline. Every function takes the
text of a column or expression and returns Spark SQL text (codegen; no
UDFs) for ``F.expr``/``selectExpr``: one string costs a few py4j round
trips however large it is, where each Column call costs about twelve.
Each has an exactly matching DuckDB fragment (``*_SQL``) used by the
oracle gate — the cross-engine determinism rules are:

- token hashes via md5 prefix → 32-bit int (identical md5 both sides),
- rolling fingerprint folded left mod a < 2^50 prime (no int64
  overflow under ANSI mode),
- ratios quantized with floor(x·10^k) on IEEE-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# < 2^50 prime: acc·31 + h stays < 2^63 (ANSI-safe)
FP_MOD = 1125899906842597
PUNCT_RE = "[.,!?;:]"

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ist", "ein"],
    "es": ["el", "la", "los", "y", "que", "una"],
}
# deterministic priority order for argmax ties
LANG_ORDER = ["en", "de", "es"]


def tokens(text: str) -> str:
    """Whitespace tokens, empties dropped (split parity with DuckDB's
    string_split + list_filter)."""
    return f"filter(split({text}, ' '), t -> t != '')"


def TOKENS_SQL(text: str) -> str:
    return f"list_filter(string_split({text}, ' '), t -> t != '')"


def token_count(text: str) -> str:
    return f"size({tokens(text)})"


def TOKEN_COUNT_SQL(text: str) -> str:
    return f"len({TOKENS_SQL(text)})"


def _md5_hex_long(tok: str, start: int) -> str:
    """The 8 md5 hex chars of ``tok`` from ``start`` as a BIGINT, 0 for
    a null ``tok``."""
    return (
        f"coalesce(CAST(conv(substring(md5({tok}), {start}, 8), 16, 10) AS BIGINT), "
        "CAST(0 AS BIGINT))"
    )


def token_hash(tok: str) -> str:
    """32-bit token hash from the md5 hex prefix — engine-portable.
    coalesce marks the hash NON-NULLABLE (it never is for the non-null
    tokens every caller feeds it): as an equi-join key — the shingle
    inverted-index self-joins — a nullable hash makes Catalyst push an
    isnotnull(<md5 expression>) filter into the scan stage, computing
    the md5 an extra time per shingle (r6 plan audit).

    Null contract: a null token hashes to 0. Unlike a hex cell, 0 is
    also a real hash (any token whose md5 starts with eight zeros), so
    callers must never feed a null. None does: every caller hashes
    elements of ``tokens()``, ``bpe_tokens()`` or shingles built from
    them, and neither a split nor a regex match list has a null element
    (a null text gives a null array, which yields no tokens)."""
    return _md5_hex_long(tok, 1)


def TOKEN_HASH_SQL(tok: str) -> str:
    return f"CAST(('0x' || substr(md5({tok}), 1, 8)) AS BIGINT)"


def token_hash_hi(tok: str) -> str:
    """Second independent 32-bit token hash (md5 hex chars 9-16) —
    paired with token_hash to give 64 independent bits per token for
    the 64-bit SimHash family. Non-nullable for the same join-key
    reason as token_hash, with the same null → 0 contract."""
    return _md5_hex_long(tok, 9)


def TOKEN_HASH_HI_SQL(tok: str) -> str:
    return f"CAST(('0x' || substr(md5({tok}), 9, 8)) AS BIGINT)"


def fingerprint(text: str) -> str:
    """Rolling polynomial document fingerprint: left fold of token
    hashes, acc·31 + h (mod FP_MOD)."""
    return (
        f"aggregate({tokens(text)}, CAST(0 AS BIGINT), "
        f"(acc, t) -> pmod(acc * 31 + {token_hash('t')}, {FP_MOD}))"
    )


def FINGERPRINT_SQL(text: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({TOKENS_SQL(text)}, t -> {TOKEN_HASH_SQL('t')})), "
        f"(acc, h) -> (acc * 31 + h) % {FP_MOD})"
    )


def punct_count(text: str) -> str:
    """Punctuation chars, via length-difference (regexp parity trick:
    identical semantics in Spark and DuckDB 'g'-flag replace)."""
    return f"(length({text}) - length(regexp_replace({text}, '{PUNCT_RE}', '')))"


def PUNCT_COUNT_SQL(text: str) -> str:
    return f"(length({text}) - length(regexp_replace({text}, '{PUNCT_RE}', '', 'g')))"


def marker_count(text: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"size(filter({tokens(text)}, t -> array_contains(array({words}), t)))"


def MARKER_COUNT_SQL(text: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_filter({TOKENS_SQL(text)}, t -> list_contains([{words}], t)))"


def lang_id(text: str) -> str:
    """Heuristic language ID: marker-word argmax, priority-ordered tie
    break, 'und' (undetermined) when no marker hits."""
    cnt = {lg: marker_count(text, lg) for lg in LANG_ORDER}
    best = f"greatest({', '.join(cnt.values())})"
    sql = "'und'"
    for lg in reversed(LANG_ORDER):
        sql = f"CASE WHEN {cnt[lg]} = {best} AND {best} > 0 THEN '{lg}' ELSE {sql} END"
    return sql


def LANG_ID_SQL(text: str) -> str:
    cnt = {lg: MARKER_COUNT_SQL(text, lg) for lg in LANG_ORDER}
    best = f"greatest({', '.join(cnt.values())})"
    sql = "'und'"
    for lg in reversed(LANG_ORDER):
        sql = f"CASE WHEN {cnt[lg]} = {best} AND {best} > 0 THEN '{lg}' ELSE {sql} END"
    return sql


def quality_features(text: str) -> dict[str, str]:
    """Quality-scoring features, all integer/quantized (oracle-exact):
    n_chars, n_tokens, avg token length ×1000, punctuation ratio
    ×10000, stopword(en-marker) ratio ×10000."""
    n_tok = token_count(text)
    return {
        "n_chars": f"CAST(length({text}) AS BIGINT)",
        "n_tokens": f"CAST({n_tok} AS BIGINT)",
        "avg_tok_len_q": f"floor(length({text}) / greatest({n_tok}, 1) * 1000)",
        "punct_ratio_q": f"floor({punct_count(text)} * 10000 / greatest(length({text}), 1))",
        "stop_ratio_q": f"floor({marker_count(text, 'en')} * 10000 / greatest({n_tok}, 1))",
    }


def QUALITY_FEATURES_SQL(text: str) -> dict[str, str]:
    n_tok = TOKEN_COUNT_SQL(text)
    return {
        "n_chars": f"CAST(length({text}) AS BIGINT)",
        "n_tokens": f"CAST({n_tok} AS BIGINT)",
        "avg_tok_len_q": f"floor(length({text}) / greatest({n_tok}, 1) * 1000)",
        "punct_ratio_q": f"floor({PUNCT_COUNT_SQL(text)} * 10000 / greatest(length({text}), 1))",
        "stop_ratio_q": f"floor({MARKER_COUNT_SQL(text, 'en')} * 10000 / greatest({n_tok}, 1))",
    }


def pack_contiguous(
    docs: DataFrame,
    target_tokens: int = 2048,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Context-window token packing (training-data pipeline): assign
    each document to a fixed-budget bin by the running token prefix of
    its shard — ``bin = floor(prefix_before / target)`` — so bins fill
    contiguously to ~target tokens (a doc may straddle two bins'
    boundary; real packers split there, this operator records the
    assignment). Sharding by ``pmod(id, n_shards)`` keeps the window
    per-shard ⇒ n_shards-way parallel, never a single global sort —
    the 100 TB shape (one shuffle, bounded partitions). Deterministic:
    order within shard is the id. Returns (doc_id, shard, n_tokens,
    bin_id)."""
    d = docs.selectExpr(
        id_col,
        f"pmod({id_col}, {n_shards}) AS shard",
        f"CAST({token_count(text_col)} AS BIGINT) AS n_tokens",
    )
    prefix = (
        f"sum(n_tokens) OVER (PARTITION BY shard ORDER BY {id_col} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    return d.selectExpr(
        "*", f"floor(coalesce({prefix}, CAST(0 AS BIGINT)) / {target_tokens}) AS bin_id"
    )


def PACK_CONTIGUOUS_SQL(
    target_tokens: int = 2048,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    return f"""
        WITH d AS (
            SELECT {id_col}, {id_col} % {n_shards} AS shard,
                   CAST({TOKEN_COUNT_SQL(text_col)} AS BIGINT) AS n_tokens
            FROM {table}
        )
        SELECT {id_col}, shard, n_tokens,
               CAST(floor(coalesce(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY {id_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / {target_tokens}) AS BIGINT) AS bin_id
        FROM d
    """


# BPE-ish regex tokenizer (task brief: "token counting (whitespace + a
# BPE-ish regex)"): letter runs, single digits, single punctuation —
# the GPT-2-pretokenizer-shaped split, simplified to character classes
# whose semantics are identical in Java regex (Spark codegen) and RE2
# (DuckDB), verified by cross-engine probe incl. unicode.
BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


def bpe_tokens(text: str) -> str:
    """array<string> of BPE-ish subword tokens (whole-match group 0).
    Spark unescapes backslashes in SQL string literals, so the
    pattern's are doubled."""
    pattern = BPE_PATTERN.replace("\\", "\\\\")
    return f"regexp_extract_all({text}, '{pattern}', 0)"


def BPE_TOKENS_SQL(text: str) -> str:
    return f"regexp_extract_all({text}, '{BPE_PATTERN}')"
