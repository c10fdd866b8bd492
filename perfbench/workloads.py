"""The three workloads. Each one has the same life cycle:

1. ``prepare``: generate the seeded inputs and the expected answers
   (cached in the checkout, never timed);
2. set-up (``setup_s``): build the session and run one warm pass,
   whose output is then checked against the expected answers;
3. ``settle``: untimed passes of the timed path, outside ``setup_s``;
4. ``timed``: fresh DataFrames every operation, each materialized
   through a noop sink, until ``seconds`` have passed (replication:
   a fixed replay into fresh stores);
5. ``trace`` (``--trace 1``): untraced and traced operations, plus
   the per-layer instruments.

A wrong answer or an exception counts as a failed operation.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
import uuid

import expect
import inputs
import measure as M
from measure import log

TRACE_PASSES = 3  # untraced and traced passes of a --trace 1 run
# the first timed samples are still warming up; with at least three
# the median never rests on the first one
MIN_SAMPLES = 3


def pass_loop(op, seconds: float) -> tuple[list[float], int]:
    """Run ``op`` back to back (one closed-loop client) until
    ``seconds`` have passed and ``MIN_SAMPLES`` passes have run;
    returns (wall time of each successful pass, number of passes that
    raised)."""
    times, failed = [], 0
    start = time.perf_counter()
    while True:
        try:
            times.append(M.timed(op)[0])
        except Exception:
            traceback.print_exc()
            failed += 1
        if time.perf_counter() - start >= seconds and len(times) + failed >= MIN_SAMPLES:
            return times, failed


class PassWorkload:
    """A workload whose timed unit is one pass over fresh DataFrames."""

    warm_passes = 0  # untimed noop passes after the checked warm pass

    def settle(self, spark) -> None:
        for _ in range(self.warm_passes):
            self.timed_op(spark)

    def cleanup(self) -> None:
        pass

    def timed(self, spark, seconds: float) -> dict:
        times, failed = pass_loop(lambda: self.timed_op(spark), seconds)
        log(f"passes {[round(t, 3) for t in times]}")
        pass_s = M.median(times) if times else None
        return {"ops": len(times) + failed, "failed": failed, "pass_s": pass_s,
                "rows_per_s": self.rows() / pass_s if times else None}


# ---------------------------------------------------------------------------
# tile_pipeline
# ---------------------------------------------------------------------------

TILE_IMAGES = 250_000
TILE_BOXES = 5_000
TILE_RES = 3
TILE_LEVEL = 12  # S2 level and slippy-tile zoom

# the prefix stages of the pipeline whose differences give self times;
# "cover" is the box side alone (hexgrid cover, no join)
TILE_STAGES = ["scan", "geo", "hexgrid", "join", "s2", "rollup"]


def tile_pipeline(spark, images_dir: str, customer_dir: str, upto: str = "rollup"):
    """The headline pipeline, built fresh from the public functions:
    scan → phash geotag → hex cover ``contains_join(compact_build)``
    → ``s2_cell`` → ``tile_id`` → per-box rollup. ``upto`` stops after
    an earlier stage (self-time prefixes of the traced run)."""
    from pyspark.sql import functions as F

    from changesetmd_spark import entry_queries as EQ
    from changesetmd_spark.functions import geo, s2
    from changesetmd_spark.operators import spatial_join as sj

    images = spark.read.parquet(f"{images_dir}/images.parquet")
    if upto == "scan":
        return images.select("phash")
    slim = images.select(
        "image_id",
        geo.clamp_lat(geo.phash_to_lat(F.col("phash"))).alias("lat"),
        geo.phash_to_lon(F.col("phash")).alias("lon"),
    )
    if upto == "geo":
        return slim.select("lat", "lon")
    if upto == "hexgrid":
        return sj.tile_points(slim, res=TILE_RES).select("lat", "lon", "hex_cell")
    boxes = EQ.boxes_from_customer(spark.read.parquet(f"{customer_dir}/customer.parquet"))
    if upto == "cover":
        return sj.cover_boxes(sj.normalize_boxes(boxes), res=TILE_RES).select("box_id", "hex_cell")
    joined = sj.contains_join(slim, boxes, res=TILE_RES, broadcast_boxes=True, compact_build=True)
    if upto == "join":
        return joined.select("box_id", "lat", "lon")
    joined = joined.withColumn("s2_cell", s2.s2_cell(F.col("lat"), F.col("lon"), TILE_LEVEL))
    if upto == "s2":
        return joined.select("box_id", "lat", "lon", "s2_cell")
    tiled = joined.withColumn(
        "tile",
        geo.tile_id(geo.tile_x(F.col("lon"), TILE_LEVEL), geo.tile_y(F.col("lat"), TILE_LEVEL), TILE_LEVEL),
    )
    return tiled.groupBy("box_id").agg(
        F.count("*").alias("n_images"),
        F.approx_count_distinct("tile").alias("n_tiles"),
        F.approx_count_distinct("s2_cell").alias("n_s2"),
    )


class TilePipeline(PassWorkload):
    name = "tile_pipeline"
    warm_passes = 3

    def prepare(self, seed: int) -> None:
        self.images = inputs.images(seed, TILE_IMAGES)
        self.customer = inputs.customer(TILE_BOXES)
        self.expected = expect.tile_counts(self.images, self.customer)

    def build(self, spark):
        return tile_pipeline(spark, self.images, self.customer)

    def warm(self, spark):
        return self.build(spark).toPandas()

    def check(self, got) -> tuple[int, int]:
        return 1, int(not expect.matches(got[["box_id", "n_images"]], self.expected))

    def timed_op(self, spark) -> None:
        M.noop(self.build(spark))

    def rows(self) -> int:
        return TILE_IMAGES

    def trace(self, spark) -> dict:
        untraced, traced = [], []
        for _ in range(TRACE_PASSES):  # interleaved: the JVM is still warming
            untraced.append(M.timed(self.timed_op, spark)[0])
            t = time.perf_counter()
            df = self.build(spark)
            with M.StageWindow(spark) as win:
                rows = df.collect()  # one row per box: collecting it is cheap
            nodes = M.plan_nodes(df)
            traced.append(time.perf_counter() - t)
        matches = sum(r["n_images"] for r in rows)  # the join's output, as the rollup counted it
        joins = [m.get("numOutputRows", 0) for n, m in nodes if "Join" in n]
        bcast = [m for n, m in nodes if n == "BroadcastExchange"]
        candidates = max(joins)
        prefix = {s: M.median([M.timed(M.noop, tile_pipeline(spark, self.images, self.customer, s))[0]
                               for _ in range(2)])
                  for s in TILE_STAGES + ["cover"]}
        return {
            "trace.overhead_s": M.median(traced) - M.median(untraced),
            "spark.scan.self_s": prefix["scan"],
            "functions.geo.self_s": prefix["geo"] - prefix["scan"],
            "functions.hexgrid.self_s": prefix["hexgrid"] - prefix["geo"] + prefix["cover"],
            "operators.spatial_join.self_s": prefix["join"] - prefix["hexgrid"] - prefix["cover"],
            "functions.s2.self_s": prefix["s2"] - prefix["join"],
            "spark.rollup.self_s": prefix["rollup"] - prefix["s2"],
            "operators.spatial_join.candidates": candidates,
            "operators.spatial_join.matches": matches,
            "operators.spatial_join.yield": matches / candidates,
            "operators.spatial_join.cover_rows": max(m.get("numOutputRows", 0) for m in bcast),
            "operators.spatial_join.broadcast_bytes": sum(m.get("dataSize", 0) for m in bcast),
            "operators.spatial_join.broadcast_collect_s":
                sum(m.get("collectTime", 0) for m in bcast) / 1000.0,
            "spark.shuffle_bytes": win.shuffle_bytes,
            "spark.spill_bytes": win.spill_bytes,
        }


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

# the registry's sf0.01 table sizes
MIX_SIZES = dict(n_orders=15_000, n_docs=500, n_vecs=500)
# gate -> (engine module it exercises, tables it reads)
MIX_GATES = {
    "minhash_lsh": ("dedup", ["documents"]),
    "phash_neardup": ("dedup", ["orders"]),
    "ann_ivf": ("similarity", ["embeddings"]),
    "audio_features": ("multimodal", ["orders"]),
}


def gate_key(gate: str) -> str:
    return f"operators.{MIX_GATES[gate][0]}.{gate}"


class QueryMix(PassWorkload):
    name = "query_mix"
    warm_passes = 1

    def prepare(self, seed: int) -> None:
        self.sf_dir = inputs.mix_tables(**MIX_SIZES)
        self.order = list(MIX_GATES)
        random.Random(seed).shuffle(self.order)
        self.expected = {g: expect.mix_answer(self.sf_dir, g) for g in self.order}

    def gate(self, spark, g: str):
        from changesetmd_spark import entry_queries as EQ

        return EQ.QUERIES[g](spark, self.sf_dir)

    def warm(self, spark):
        return {g: self.gate(spark, g).toPandas() for g in self.order}

    def check(self, got) -> tuple[int, int]:
        wrong = sum(not expect.matches(got[g], self.expected[g]) for g in self.order)
        return len(self.order), wrong

    def timed_op(self, spark) -> None:
        for g in self.order:
            M.noop(self.gate(spark, g))

    def rows(self) -> int:
        sizes = {"orders": MIX_SIZES["n_orders"], "documents": MIX_SIZES["n_docs"],
                 "embeddings": MIX_SIZES["n_vecs"]}
        return sum(sizes[t] for g in self.order for t in MIX_GATES[g][1])

    def trace(self, spark) -> dict:
        gate_s: dict[str, list[float]] = {g: [] for g in self.order}
        out: dict[str, float] = {}
        untraced, traced = [], []
        for _ in range(TRACE_PASSES):  # interleaved: the JVM is still warming
            for g in self.order:
                gate_s[g].append(M.timed(M.noop, self.gate(spark, g))[0])
            untraced.append(sum(gate_s[g][-1] for g in self.order))
            t_pass, plan_s = 0.0, 0.0
            for g in self.order:
                t = time.perf_counter()
                build_s, df = M.timed(self.gate, spark, g)
                with M.StageWindow(spark) as win:
                    n_rows = M.materialize(df)
                nodes = M.plan_nodes(df)
                t_pass += time.perf_counter() - t
                plan_s += build_s + M.plan_phase_s(df)
                joins = [m.get("numOutputRows", 0) for n, m in nodes if "Join" in n]
                key = gate_key(g)
                out[key + "_s"] = M.median(gate_s[g])
                out[key + "_join_rows_max"] = max(joins, default=0)
                out[key + "_yield"] = n_rows / max(joins) if joins and max(joins) else 0.0
                out[key + "_shuffle_bytes"] = win.shuffle_bytes
                out[key + "_spill_bytes"] = win.spill_bytes
            traced.append(t_pass)
        out["entry_queries.plan_s"] = plan_s
        out["spark.shuffle_bytes"] = sum(out[gate_key(g) + "_shuffle_bytes"] for g in self.order)
        out["spark.spill_bytes"] = sum(out[gate_key(g) + "_spill_bytes"] for g in self.order)
        out["trace.overhead_s"] = M.median(traced) - M.median(untraced)
        return out


# ---------------------------------------------------------------------------
# replication
# ---------------------------------------------------------------------------

REPL_CHANGESETS = 10_000
REPL_COMMENTS_EVERY = 25  # synthesize_fixture_xml's default
REPL_BATCH = 2_000
REPL_LOADS = 6  # timed bulk loads per run, each into fresh stores
# Sequences per timed replay. Each sequence adds a keyed delta to both
# stores, and every comments delete_keys resolves the whole log, so the
# per-sequence cost grows with the replay (on the 4-core host about 2 s
# for the first sequence, 3 s for the fourth, 8-9 s for the fifteenth).
REPL_SEQS = 4
# Sequences of the traced replay. The changeset store holds the load's
# merge plus one merge per sequence, so SnapStore's default
# auto_compact_every (16) compacts it at the 15th sequence; the comments
# store stays one delta short of its own compaction, so the read after
# the replay resolves a fresh compact on one store and a 32-snapshot
# merge-on-read log on the other.
TRACE_SEQS = 15
REPL_STORE_CALLS = ["merge", "delete_keys", "append", "compact"]


class Replication:
    """A bulk load into fresh stores, then a replay of new sequences,
    one ``replicate()`` call per new head. Every replay starts from
    fresh stores, so every run does the same work. The timed work is
    fixed (``REPL_LOADS`` loads and one ``REPL_SEQS``-sequence replay),
    whatever ``seconds`` is."""

    name = "replication"

    def prepare(self, seed: int) -> None:
        self.xml, self.truth = inputs.changeset_xml(REPL_CHANGESETS)
        # the seed picks the first sequence, hence which ids the
        # updates hit and where the inserted ids start
        self.first_seq = 1 + (seed % 1000) * 10
        self.root = inputs.cache_path("repl", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def open_stores(self, spark):
        from changesetmd_spark import schemas
        from changesetmd_spark.sources.snapstore import SnapStore

        root = os.path.join(self.root, uuid.uuid4().hex[:8])
        store = SnapStore(spark, f"{root}/changesets", key="id")
        comments = SnapStore(spark, f"{root}/comments", key="comment_changeset_id")
        store.create(spark.createDataFrame([], schemas.CHANGESETS))
        comments.create(spark.createDataFrame([], schemas.COMMENTS))
        state = store.read_state()
        state["last_sequence"] = self.first_seq - 1
        store.write_state(state)
        return store, comments

    def load(self, spark, store, comments) -> None:
        from changesetmd_spark.sources import xml_ingest as xi

        raw = xi.read_changesets_xml(spark, self.xml)
        store.merge(xi.parse_changesets(raw), source=self.xml)
        comments.append(xi.parse_comments(raw), source=self.xml)

    def loaded(self, spark) -> tuple[float, object, object]:
        """(bulk-load wall time, store, comments store), on fresh stores."""
        store, comments = self.open_stores(spark)
        return M.timed(self.load, spark, store, comments)[0], store, comments

    def replicate_next(self, spark, store, comments) -> int:
        from changesetmd_spark.sources.replication import SyntheticReplicationSource, replicate

        seq = store.read_state()["last_sequence"] + 1
        src = SyntheticReplicationSource(
            spark, head_seq=seq, batch_size=REPL_BATCH, base_ids=REPL_CHANGESETS
        )
        out = replicate(store, src, comments_store=comments)
        if out["applied"] != 1:
            raise RuntimeError(f"replicate applied {out['applied']} sequences, expected 1")
        return seq

    def replay(self, spark, store, comments, n_seqs: int, spans: M.Spans | None = None) -> dict:
        if spans is not None:  # after the load: spans see replicate() only
            spans.wrap(store, REPL_STORE_CALLS, "changesets.")
            spans.wrap(comments, REPL_STORE_CALLS, "comments.")
        seq_s, seqs = [], []
        for _ in range(n_seqs):
            t, seq = M.timed(self.replicate_next, spark, store, comments)
            seq_s.append(t)
            seqs.append(seq)
        return {"store": store, "comments": comments, "seqs": seqs, "seq_s": seq_s}

    @staticmethod
    def read_counts(store, comments) -> tuple[int, int]:
        return store.read().count(), comments.read().count()

    def wrong(self, r: dict) -> int:
        """1 if the stores differ from the replay of their input."""
        from pyspark.sql import functions as F

        want = expect.replication_state(REPL_CHANGESETS, REPL_COMMENTS_EVERY, r["seqs"], REPL_BATCH)
        if want["initial"] != self.truth:
            raise RuntimeError(f"fixture replay {want['initial']} != generator truth {self.truth}")
        row = r["store"].read().agg(
            F.count("*").alias("n"),
            F.countDistinct("id").alias("ids"),
            F.sum("num_changes").alias("nc"),
            F.sum(F.size("tags")).alias("tags"),
            F.sum(F.col("min_lat").isNull().cast("long")).alias("no_geo"),
        ).collect()[0]
        got = {
            "changesets": row["n"],
            "num_changes_sum": row["nc"],
            "tags": row["tags"],
            "no_geo": row["no_geo"],
            "comments": r["comments"].read().count(),
        }
        return int(row["ids"] != row["n"] or any(got[k] != want[k] for k in got))

    def warm(self, spark) -> dict:
        _, store, comments = self.loaded(spark)
        return self.replay(spark, store, comments, 1)

    def settle(self, spark) -> None:
        self.warm(spark)

    def check(self, r: dict) -> tuple[int, int]:
        return 2, self.wrong(r)  # the load and the sequence

    def timed(self, spark, seconds: float) -> dict:
        loads = [self.loaded(spark) for _ in range(REPL_LOADS)]
        load_s = [t for t, _, _ in loads]
        r = self.replay(spark, *loads[-1][1:], REPL_SEQS)
        log(f"loads {[round(t, 3) for t in load_s]}, sequences {[round(t, 3) for t in r['seq_s']]}")
        # a wrong final state fails the load under it and every sequence
        return {"ops": REPL_LOADS + REPL_SEQS, "failed": (1 + REPL_SEQS) * self.wrong(r),
                "pass_s": sum(r["seq_s"]) / REPL_SEQS,
                "rows_per_s": REPL_CHANGESETS / M.median(load_s)}

    def trace(self, spark) -> dict:
        """Per-layer split of the write and read paths over a
        ``TRACE_SEQS``-sequence replay, per sequence: the store methods
        are wrapped on the instances, from outside. The tracing overhead
        compares its first ``REPL_SEQS`` sequences with an untraced
        replay of as many."""
        load_a, store, comments = self.loaded(spark)
        plain = self.replay(spark, store, comments, REPL_SEQS)
        load_b, store, comments = self.loaded(spark)
        spans = M.Spans()
        r = self.replay(spark, store, comments, TRACE_SEQS, spans)
        read_s, rows = M.timed(self.read_counts, store, comments)
        replay_s = sum(r["seq_s"])

        def per_seq(op: str) -> float:
            return (spans.self_s[f"changesets.{op}"] + spans.self_s[f"comments.{op}"]) / TRACE_SEQS

        return {
            "trace.overhead_s": (sum(r["seq_s"][:REPL_SEQS]) - sum(plain["seq_s"])) / REPL_SEQS,
            "sources.xml_ingest.load_s": M.median([load_a, load_b]),
            "sources.snapstore.merge_s": per_seq("merge"),
            "sources.snapstore.delete_keys_s": per_seq("delete_keys"),
            "sources.snapstore.append_s": per_seq("append"),
            "sources.snapstore.compact_s": per_seq("compact"),
            "sources.snapstore.compact_count":
                spans.calls["changesets.compact"] + spans.calls["comments.compact"],
            "sources.replication.loop_s": (replay_s - spans.total_self()) / TRACE_SEQS,
            "sources.snapstore.read_s": read_s,
            "sources.snapstore.deltas_resolved": live_deltas(store) + live_deltas(comments),
            "sources.snapstore.bytes_per_row": data_bytes(os.path.dirname(store.root)) / sum(rows),
        }


def live_deltas(store) -> int:
    """Snapshots a current read resolves: the newest compact onwards."""
    snaps = store.snapshots()
    base = max((s["id"] for s in snaps if s["op"] == "compact"), default=0)
    return sum(1 for s in snaps if s["id"] >= base)


def data_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    )


WORKLOADS = {w.name: w for w in (TilePipeline, QueryMix, Replication)}
