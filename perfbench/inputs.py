"""Seeded benchmark inputs, generated here and cached in the checkout.

Every input is a pure function of its arguments (seed and size), so a
cached copy is reused only for the same arguments: the cache path
carries both. Generation uses numpy and pyarrow, not Spark, so it
never shares the measured session and never counts in ``setup_s``.

- ``images(seed, n)``: the image+caption table of the tile pipeline.
  The seed is mixed into every ``phash`` (the sole geotag source), so
  each seed puts the images at other places on the globe.
- ``customer(n)``: ``c_custkey`` 0..n-1; the boxes come from the
  engine's own ``boxes_from_customer`` derivation.
- ``mix_tables()``: orders / documents / embeddings for the query mix,
  generated with the structure measured on the registry's own test
  tables (see ``perfbench/NOTES.md``, "Query-mix inputs"). Fixed
  content (generator seed ``MIX_DATA_SEED``); the run seed only
  permutes the gate order, so the oracle answers are computed once.
- ``changeset_xml(n)``: the engine's own ``synthesize_fixture_xml``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(CHECKOUT, ".perfbench_cache")

MIX_DATA_SEED = 5
CAPTION_WORDS = [
    "harbor", "straße", "night", "café", "skyline", "über", "river", "plaza",
    "旧市街", "bridge", "fog", "sunset", "markt", "tower", "schnee", "montañas",
]
# The registry's documents: a 30-word vocabulary drawn uniformly,
# 10..99 words per text, 5% near copies (another document's text plus
# " dup"), lang "en" with p 0.4 and the four others 0.15 each, source
# src0..src9 round robin.
DOC_WORDS = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data the "
    "customer join vector"
).split()
DOC_WORDS_MIN, DOC_WORDS_MAX = 10, 99
DOC_DUP_SHARE = 0.05
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64


def cache_path(*parts: str) -> str:
    path = os.path.join(CACHE, *parts)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _write_parquet(path: str, tables: dict[str, pa.Table], row_groups: int = 8) -> None:
    """Write each table as ``path/<name>.parquet/part-0.parquet``, then
    mark ``path`` complete, so an interrupted write is redone."""
    for name, tbl in tables.items():
        d = os.path.join(path, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            tbl, os.path.join(d, "part-0.parquet"),
            row_group_size=max(1, -(-tbl.num_rows // row_groups)),
        )
    open(os.path.join(path, "_SUCCESS"), "w").close()


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def image_phash(seed: int, n: int) -> np.ndarray:
    """Non-negative int64 phash per image, uniform over 63 bits."""
    i = np.arange(n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        salted = i + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
    return (mix64(salted) & np.uint64((1 << 63) - 1)).astype(np.int64)


def images(seed: int, n: int) -> str:
    """Directory holding ``images.parquet`` (image_id, phash, caption)."""
    path = cache_path(f"images_s{seed}_n{n}")
    if not _done(path):
        ph = image_phash(seed, n)
        rng = np.random.default_rng(seed)
        words = np.array(CAPTION_WORDS, dtype=object)
        w = words[rng.integers(0, len(words), size=(n, 3))]
        captions = [f"{a} {b}\n{c}" for a, b, c in w]
        tbl = pa.table({
            "image_id": pa.array([f"img{seed:06d}{k:010d}" for k in range(n)]),
            "phash": pa.array(ph),
            "caption": pa.array(captions),
        })
        _write_parquet(path, {"images": tbl})
    return path


def customer(n: int) -> str:
    """Directory holding ``customer.parquet`` with ``n`` customers."""
    path = cache_path(f"customer_n{n}")
    if not _done(path):
        keys = np.arange(n, dtype=np.int64)
        tbl = pa.table({
            "c_custkey": keys,
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        })
        _write_parquet(path, {"customer": tbl}, row_groups=1)
    return path


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Uniform random-word texts; a random ``DOC_DUP_SHARE`` of them are
    replaced by another document's text plus " dup"."""
    words = np.array(DOC_WORDS, dtype=object)
    lengths = rng.integers(DOC_WORDS_MIN, DOC_WORDS_MAX + 1, size=n)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lengths]
    n_dup = round(n * DOC_DUP_SHARE)
    for i in rng.choice(n, size=n_dup, replace=False):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"  # any document but i
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array([f"src{i % 10}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm isotropic Gaussian vectors with a uniform label in
    0..9, which carries no cluster structure (as in the registry)."""
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=n).astype(np.int32),
    })


def mix_tables(n_orders: int, n_docs: int, n_vecs: int) -> str:
    """Directory of the query-mix tables (an ``sf_dir`` for the gates).
    The gates read only ``o_orderkey`` of orders: 0..n-1, as in the
    registry."""
    path = cache_path(f"mix_o{n_orders}_d{n_docs}_v{n_vecs}")
    if not _done(path):
        rng = np.random.default_rng(MIX_DATA_SEED)
        orders = pa.table({"o_orderkey": np.arange(n_orders, dtype=np.int64)})
        _write_parquet(path, {
            "orders": orders,
            "documents": _documents(rng, n_docs),
            "embeddings": _embeddings(rng, n_vecs),
        }, row_groups=1)
    return path


def changeset_xml(n: int) -> tuple[str, dict]:
    """(path, ground truth) of an ``n``-changeset XML file written by
    the engine's ``synthesize_fixture_xml``."""
    from changesetmd_spark.sources.xml_ingest import synthesize_fixture_xml

    path = cache_path(f"changesets_n{n}", "changesets.osm")
    truth_path = path + ".truth.json"
    if not os.path.exists(truth_path):
        truth = synthesize_fixture_xml(path, n=n)
        with open(truth_path, "w") as f:
            json.dump(truth, f)
    with open(truth_path) as f:
        return path, json.load(f)
