"""SnapStore (Iceberg-semantics emulation) + replication loop tests —
the reference's mutation surface (A9-A15) re-expressed as DataFrame
assertions (SURVEY.md §5: idempotent MERGE replay ⇒ identical table;
resume-after-kill; delete-then-reinsert child rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from changesetmd_spark import synth
from changesetmd_spark.sources.replication import (
    FileReplicationSource,
    SyntheticReplicationSource,
    replicate,
)
from changesetmd_spark.sources.snapstore import ConcurrentWriteError, SnapStore


def _table_fingerprint(df):
    """Order-insensitive content hash of a DataFrame."""
    cols = sorted(df.columns)
    joined = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    return (
        df.select(F.md5(joined).alias("h"))
        .agg(F.count("*").alias("n"), F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s"))
        .collect()[0]
    )


@pytest.fixture()
def store(spark, tmp_path):
    return SnapStore(spark, str(tmp_path / "changesets"), key="id")


def test_append_merge_delete_timetravel(spark, store):
    base = synth.changesets(spark, 100)
    s0 = store.create(base)
    assert store.read().count() == 100

    # merge: update 10 ids, insert 5 new
    upd = base.filter(F.col("id") <= 10).withColumn("num_changes", F.lit(999))
    new = synth.changesets(spark, 105).filter(F.col("id") > 100)
    s1 = store.merge(upd.unionByName(new))
    cur = store.read()
    assert cur.count() == 105
    assert cur.filter(F.col("id") <= 10).filter(F.col("num_changes") == 999).count() == 10

    # delete 5
    s2 = store.delete_keys(spark.range(1, 6).select(F.col("id")))
    assert store.read().count() == 100
    # time travel: state as of s1 still has them
    assert store.read(as_of=s1).count() == 105
    assert store.read(as_of=s0).count() == 100
    assert [s["op"] for s in store.snapshots()] == ["append", "merge", "delete"]
    assert s2 == 2


def test_merge_idempotent_replay(spark, store):
    """README.md:103-104: applying the same diff twice converges."""
    base = synth.changesets(spark, 50)
    store.create(base)
    upd = base.filter(F.col("id") <= 20).withColumn("num_changes", F.lit(7))
    store.merge(upd)
    fp1 = _table_fingerprint(store.read())
    store.merge(upd)  # replay
    fp2 = _table_fingerprint(store.read())
    assert fp1 == fp2


def test_compact_preserves_content(spark, store):
    base = synth.changesets(spark, 80)
    store.create(base)
    store.merge(base.filter(F.col("id") < 10).withColumn("user_name", F.lit("x")))
    store.delete_keys(spark.range(70, 81).select("id"))
    before = _table_fingerprint(store.read())
    store.compact()
    after = _table_fingerprint(store.read())
    assert before == after
    # readers now scan exactly one delta
    assert len(store._deltas()) == 1


def test_incremental_read_bounded_replay(spark, store):
    base = synth.changesets(spark, 30)
    s0 = store.create(base)
    s1 = store.merge(base.filter(F.col("id") == 1).withColumn("num_changes", F.lit(1)))
    s2 = store.merge(base.filter(F.col("id") == 2).withColumn("num_changes", F.lit(2)))
    inc = store.incremental(s0, s2)
    assert inc.count() == 2
    assert store.incremental(s1, s2).count() == 1
    # empty range → empty DataFrame with the table schema (total API)
    empty = store.incremental(s2)
    assert empty.count() == 0
    assert set(inc.columns) == set(empty.columns)
    assert inc.unionByName(empty).count() == 2  # chains without None-checks


def test_mutex_single_writer(spark, store):
    store.create(synth.changesets(spark, 10))
    store.acquire()
    with pytest.raises(ConcurrentWriteError):
        store.acquire()
    store.release()
    store.acquire()
    store.release()


def test_lineage_and_metrics_tables(spark, store):
    store.create(synth.changesets(spark, 40))
    store.merge(synth.changesets(spark, 5))
    lin = store.lineage()
    assert lin.count() == 2
    row = lin.orderBy("snapshot_id").collect()[1]
    assert row.op == "merge" and row.parent == 0 and row.rows == 5
    m = store.metrics()
    assert m.agg(F.sum("rows")).collect()[0][0] == 45


def test_multirow_keys_survive_merge_resolution(spark, tmp_path):
    """A key's latest keyed snapshot keeps ALL its rows (child tables
    are legitimately multi-row per key); appends for untouched keys and
    appends NEWER than the key's last keyed snapshot pass through."""
    cm = SnapStore(spark, str(tmp_path / "cm"), key="pid")
    rows = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "x"), (2, "y"), (3, "z")], "pid int, txt string"
    )
    cm.create(rows)
    # delete parent 1, then reinsert TWO fresh rows for it (A11 cycle)
    cm.delete_keys(spark.createDataFrame([(1,)], "pid int"))
    cm.append(spark.createDataFrame([(1, "n1"), (1, "n2")], "pid int, txt string"))
    cur = cm.read()
    got = sorted((r.pid, r.txt) for r in cur.collect())
    # parent 1: both reinserted rows survive (the old bug collapsed
    # multi-row keys to one nondeterministic survivor); parents 2 and 3
    # (untouched by any keyed snapshot) keep every row.
    assert got == [(1, "n1"), (1, "n2"), (2, "x"), (2, "y"), (3, "z")]
    # a merge that carries 2 rows for one key keeps both (multi-set)
    cm.merge(spark.createDataFrame([(2, "m1"), (2, "m2")], "pid int, txt string"))
    got2 = sorted((r.pid, r.txt) for r in cm.read().collect())
    assert got2 == [(1, "n1"), (1, "n2"), (2, "m1"), (2, "m2"), (3, "z")]


def test_write_metrics_without_data_rescan(spark, tmp_path, monkeypatch):
    """Lineage/metrics come from parquet footers — a commit performs
    exactly one data pass (the write itself), never a Spark re-read."""
    from pyspark.sql.readwriter import DataFrameReader

    st = SnapStore(spark, str(tmp_path / "m"), key="id")
    base = synth.changesets(spark, 60)

    real_parquet = DataFrameReader.parquet

    def boom(self, *paths, **kw):
        raise AssertionError("commit path re-read the snapshot it just wrote")

    monkeypatch.setattr(DataFrameReader, "parquet", boom)
    st.create(base)  # append commit must not read parquet
    monkeypatch.setattr(DataFrameReader, "parquet", real_parquet)

    lin = st.lineage().collect()
    assert lin[0].rows == 60 and lin[0].n_files >= 1
    assert st.metrics().agg(F.sum("rows")).collect()[0][0] == 60
    assert st.read().count() == 60


def test_auto_compaction_bounds_deltas(spark, tmp_path):
    """After K keyed deltas the store compacts itself, bounding the
    number of deltas any read must resolve."""
    st = SnapStore(spark, str(tmp_path / "ac"), key="id", auto_compact_every=3)
    base = synth.changesets(spark, 40)
    st.create(base)
    for i in range(7):
        st.merge(base.filter(F.col("id") <= 5 + i).withColumn("num_changes", F.lit(i)))
    ops = [s["op"] for s in st.snapshots()]
    assert "compact" in ops
    # reads scan a bounded window: at most K keyed deltas + the compact base
    assert st._keyed_deltas_since_compact() < 3
    assert len(st._deltas()) <= 4
    cur = st.read()
    assert cur.count() == 40
    # latest merge wins for the touched keys
    assert cur.filter(F.col("id") <= 5).agg(F.min("num_changes")).collect()[0][0] == 6


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg ADD COLUMN analog (reference: ADD COLUMN IF NOT EXISTS
    geom, queries.py:54): a later snapshot may carry a new column;
    readers see the widest schema with NULL backfill for old rows."""
    st = SnapStore(spark, str(tmp_path / "se"), key="id")
    st.create(spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"))
    st.merge(spark.createDataFrame([(2, "b2", 7.5)], "id int, v string, score double"))
    cur = st.read()
    assert set(cur.columns) == {"id", "v", "score"}
    rows = {r.id: (r.v, r.score) for r in cur.collect()}
    assert rows == {1: ("a", None), 2: ("b2", 7.5)}
    # incremental reads tolerate the mixed schemas too
    assert st.incremental(0).count() == 1


def test_replication_loop_checkpoint_and_resume(spark, tmp_path):
    """Crash mid-run, resume from the watermark → identical final
    state to an uninterrupted run (A13 exactly-once upsert)."""
    src = SyntheticReplicationSource(spark, head_seq=4, batch_size=30, base_ids=100)

    # uninterrupted reference run
    ref = SnapStore(spark, str(tmp_path / "ref"), key="id")
    ref.create(synth.changesets(spark, 100))
    out = replicate(ref, src)
    assert out["applied"] == 4
    want = _table_fingerprint(ref.read())

    # crashing run: 2 batches, injected failure, then resume
    st = SnapStore(spark, str(tmp_path / "crash"), key="id")
    st.create(synth.changesets(spark, 100))
    with pytest.raises(RuntimeError, match="injected failure"):
        replicate(st, src, fail_after=2)
    assert st.read_state()["update_in_progress"] == 0  # mutex released on error
    assert st.read_state()["last_sequence"] == 2  # watermark advanced per batch
    out2 = replicate(st, src)  # resumes at seq 3
    assert out2["from"] == 3 and out2["applied"] == 2
    assert _table_fingerprint(st.read()) == want


def test_bounded_replay_and_validation(spark, tmp_path):
    src = SyntheticReplicationSource(spark, head_seq=5, batch_size=20, base_ids=50)
    st = SnapStore(spark, str(tmp_path / "b"), key="id")
    st.create(synth.changesets(spark, 50))
    out = replicate(st, src, from_seq=2, to_seq=3)
    assert out == {"applied": 2, "from": 2, "to": 3}
    # watermark untouched by bounded replay (reference bypasses state)
    assert st.read_state()["last_sequence"] == -1
    for bad in [dict(from_seq=0, to_seq=3), dict(from_seq=4, to_seq=2), dict(from_seq=1, to_seq=None)]:
        with pytest.raises(ValueError):
            replicate(st, src, **bad)


def test_comment_delete_then_reinsert(spark, tmp_path):
    """A11: replicated parents' comments are replaced, not duplicated."""
    src = SyntheticReplicationSource(spark, head_seq=2, batch_size=20, base_ids=50)
    cs = SnapStore(spark, str(tmp_path / "cs"), key="id")
    cm = SnapStore(spark, str(tmp_path / "cm"), key="comment_changeset_id")
    cs.create(synth.changesets(spark, 50))
    cm.create(synth.comments(spark, changeset_count=50, n=40))
    replicate(cs, src, comments_store=cm)
    replicate(cs, src, from_seq=1, to_seq=2, comments_store=cm)  # replay both
    cur = cm.read()
    # every replicated parent has exactly the 10-row latest batch set —
    # replay did not duplicate (delete-then-reinsert semantics)
    dup = (
        cur.groupBy("comment_changeset_id", "comment_date", "comment_text")
        .count().filter(F.col("count") > 1)
    )
    assert dup.count() == 0


# ---------------------------------------------------------------------------
# FileReplicationSource — the reference wire protocol over file:// fixtures
# ---------------------------------------------------------------------------

def test_expire_snapshots_lifecycle(spark, store):
    """Iceberg expire_snapshots analog: data of snapshots older than
    the newest compact is deleted, current reads are unaffected,
    time-travel/incremental reads into the expired range fail loudly,
    lineage keeps every snapshot, keep_last grants a grace window,
    and the call is idempotent."""
    import os

    store.create(synth.changesets(spark, 60))  # snap 0
    store.merge(synth.changesets(spark, 20).withColumn("num_changes", F.lit(7)))  # 1
    store.merge(synth.changesets(spark, 10).withColumn("num_changes", F.lit(9)))  # 2
    # nothing expirable before a compact exists
    assert store.expire_snapshots() == {"expired": 0, "bytes_freed": 0}
    store.compact()  # snap 3
    store.append(synth.changesets(spark, 5).withColumn("id", F.col("id") + 1000))  # 4

    before = _table_fingerprint(store.read().drop("tags"))
    out = store.expire_snapshots(keep_last=1)
    assert out["expired"] == 2 and out["bytes_freed"] > 0  # snaps 0,1 (2 kept)
    snaps = {s["id"]: s for s in store.snapshots()}
    assert len(snaps) == 5  # lineage intact
    assert snaps[0].get("expired") and snaps[1].get("expired")
    assert not snaps[2].get("expired")
    assert not os.path.isdir(snaps[0]["path"]) and os.path.isdir(snaps[2]["path"])

    # current read and post-compact time travel unaffected
    assert _table_fingerprint(store.read().drop("tags")) == before
    assert store.read(as_of=3).count() == 60
    # expired range fails loudly
    with pytest.raises(ValueError, match="expired"):
        store.read(as_of=1)
    with pytest.raises(ValueError, match="expired"):
        store.incremental(0, 1).count()
    # grace snapshot still readable incrementally, then expire the rest
    store.incremental(1, 2).count()
    assert store.expire_snapshots()["expired"] == 1  # snap 2 now too
    assert store.expire_snapshots() == {"expired": 0, "bytes_freed": 0}  # idempotent
    assert store.lineage().count() == 5
    assert _table_fingerprint(store.read().drop("tags")) == before


def test_stale_log_lock_is_broken_not_wedging(spark, tmp_path):
    """A holder that crashed inside the log critical section leaves
    snapshots.json.lock behind; since the section is milliseconds, a
    lockfile older than the staleness bound is broken automatically —
    writes must not wedge forever."""
    import os
    import time

    store = SnapStore(spark, str(tmp_path / "cs"), key="id")
    lock = os.path.join(store.root, "snapshots.json.lock")
    open(lock, "w").close()
    old = time.time() - 2 * SnapStore._LOG_LOCK_STALE_S
    os.utime(lock, (old, old))
    store.create(synth.changesets(spark, 10))  # would hang/raise pre-fix
    assert store.read().count() == 10
    assert not os.path.exists(lock)  # released after commit


def test_expire_crash_orphans_are_reaped(spark, tmp_path):
    """Crash-safety contract: flags commit to the log BEFORE any data
    delete, so the crash window leaves flagged-but-present snapshots —
    reads into them fail loudly (not path-not-found) and the next
    expire() reaps their directories."""
    import json
    import os

    store = SnapStore(spark, str(tmp_path / "cs"), key="id")
    store.create(synth.changesets(spark, 30))  # 0
    store.merge(synth.changesets(spark, 10).withColumn("num_changes", F.lit(3)))  # 1
    store.compact()  # 2
    # simulate a crash right after the flag-commit: snap 0 flagged
    # expired in the log, its data directory still on disk
    snaps = store.snapshots()
    snaps[0]["expired"] = True
    with open(store._log_path(), "w") as f:
        json.dump(snaps, f)
    assert os.path.isdir(snaps[0]["path"])
    with pytest.raises(ValueError, match="expired"):  # loud, not FileNotFound
        store.read(as_of=0)
    out = store.expire_snapshots()
    assert out["expired"] == 1  # snap 1 newly flagged
    assert out["bytes_freed"] > 0  # BOTH dirs reaped (0's orphan + 1's)
    assert not os.path.isdir(snaps[0]["path"])
    assert store.read().count() == 30


def _cs_xml(i: int, seq: int, comments=()) -> str:
    attrs = (
        f'id="{i}" created_at="2021-01-01T00:00:00Z" '
        f'closed_at="2021-01-01T0{seq}:00:00Z" open="false" '
        f'uid="{i % 7}" user="u{i % 7}" min_lat="1.0" max_lat="2.0" '
        f'min_lon="3.0" max_lon="4.0" num_changes="{seq * 10 + i}"'
    )
    body = f'<tag k="seq" v="{seq}"/>'
    if comments:
        body += (
            "<discussion>"
            + "".join(
                f'<comment uid="9" user="rev" date="2021-03-0{seq + 1}T10:00:00Z">'
                f"<text>{t}</text></comment>"
                for t in comments
            )
            + "</discussion>"
        )
    return f"<changeset {attrs}>{body}</changeset>"


def _osm_doc(rows) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n'
        + "\n".join(rows)
        + "\n</osm>\n"
    )


def _write_endpoint(base, seq_docs: dict) -> None:
    """Lay out the reference's replication directory: AAA/BBB/CCC.osm.gz
    per 9-digit sequence + state.yaml head (changesetmd.py:290-300,337-343)."""
    import gzip

    for seq, doc in seq_docs.items():
        p = base / FileReplicationSource.sequence_path(seq)
        p.parent.mkdir(parents=True, exist_ok=True)
        with gzip.open(p, "wt", encoding="utf-8") as f:
            f.write(doc)
    (base / "state.yaml").write_text(
        "---\nlast_run: 2021-03-03 10:00:00.000000000 +00:00\n"
        f"sequence: {max(seq_docs)}\n"
    )


@pytest.fixture()
def endpoint(spark, tmp_path):
    base = tmp_path / "repl"
    base.mkdir()
    _write_endpoint(
        base,
        {
            # seq1: parent 1 updated WITHOUT comments (must drop its
            # stale seed comment); parent 6 gains two comments
            1: _osm_doc([_cs_xml(1, 1), _cs_xml(6, 1, ["c6a", "c6b"])]),
            # seq2: parent 6 updated WITHOUT comments (loses seq1's);
            # parent 2 gains one
            2: _osm_doc([_cs_xml(2, 2, ["c2"]), _cs_xml(6, 2)]),
            # seq3: parent 6 regains exactly one comment
            3: _osm_doc([_cs_xml(3, 3), _cs_xml(6, 3, ["c6final"])]),
        },
    )
    # seed table state: ids 1..6 at seq 0, parent 1 carries a stale comment
    seed = tmp_path / "seed.osm.gz"
    import gzip

    with gzip.open(seed, "wt", encoding="utf-8") as f:
        f.write(_osm_doc([_cs_xml(i, 0, ["stale1"] if i == 1 else ()) for i in range(1, 7)]))
    return base, seed


def _seed_stores(spark, tmp_path, seed, tag: str):
    from changesetmd_spark.sources import xml_ingest as xi

    raw = xi.read_changesets_xml(spark, str(seed))
    cs = SnapStore(spark, str(tmp_path / f"cs_{tag}"), key="id")
    cm = SnapStore(spark, str(tmp_path / f"cm_{tag}"), key="comment_changeset_id")
    cs.create(xi.parse_changesets(raw))
    cm.create(xi.parse_comments(raw))
    return cs, cm


def test_file_replication_endpoint_e2e(spark, tmp_path, endpoint):
    """Full reference protocol over file://: head() from state.yaml,
    AAA/BBB/CCC.osm.gz fetches, watermarked replication with
    delete-then-reinsert children, crash mid-run + resume → identical
    final state to an uninterrupted run."""
    base, seed = endpoint
    src = FileReplicationSource(spark, str(base))
    assert src.head() == 3
    assert FileReplicationSource.sequence_path(4581387) == "004/581/387.osm.gz"

    # uninterrupted run
    cs, cm = _seed_stores(spark, tmp_path, seed, "ref")
    out = replicate(cs, src, comments_store=cm)
    assert out["applied"] == 3 and out["to"] == 3
    assert cs.read_state()["last_sequence"] == 3

    final = {r.id: r.num_changes for r in cs.read().collect()}
    # id 6 replicated three times → seq3 wins; untouched ids keep seed
    assert final[6] == 36 and final[4] == 4 and final[5] == 5
    assert final[1] == 11 and final[2] == 22 and final[3] == 33

    com = [(r.comment_changeset_id, r.comment_text) for r in cm.read().collect()]
    # stale seed comment on parent 1 gone (silent update), parent 6
    # holds ONLY seq3's comment, parent 2 holds seq2's
    assert sorted(com) == [(2, "c2"), (6, "c6final")]

    # crash after 1 batch, resume from the watermark → converges
    cs2, cm2 = _seed_stores(spark, tmp_path, seed, "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        replicate(cs2, src, comments_store=cm2, fail_after=1)
    assert cs2.read_state()["last_sequence"] == 1
    out2 = replicate(cs2, src, comments_store=cm2)
    assert out2["from"] == 2 and out2["applied"] == 2
    assert _table_fingerprint(cs2.read().drop("tags")) == _table_fingerprint(
        cs.read().drop("tags")
    )
    assert _table_fingerprint(cm2.read()) == _table_fingerprint(cm.read())


def test_replicated_parents_lose_stale_comments(spark, tmp_path):
    """A11 exact semantics (changesetmd.py:236-237): children are
    deleted for EVERY replicated changeset id — a parent updated with
    zero comments in the diff must still lose its stale comments."""
    src = SyntheticReplicationSource(spark, head_seq=1, batch_size=20, base_ids=50)
    cs = SnapStore(spark, str(tmp_path / "cs"), key="id")
    cm = SnapStore(spark, str(tmp_path / "cm"), key="comment_changeset_id")
    cs.create(synth.changesets(spark, 50))
    cm.create(synth.comments(spark, changeset_count=50, n=40))

    batch_ids = {r.id for r in src.fetch(1).select("id").collect()}
    new_comment_ids = {
        r.comment_changeset_id
        for r in src.comments_for(1).select("comment_changeset_id").collect()
    }
    silent = batch_ids - new_comment_ids  # replicated, no new comments
    had_stale = {
        r.comment_changeset_id
        for r in cm.read().select("comment_changeset_id").distinct().collect()
    } & silent
    assert had_stale, "fixture must exercise the silent-parent case"

    replicate(cs, src, comments_store=cm)
    left = {
        r.comment_changeset_id
        for r in cm.read().select("comment_changeset_id").distinct().collect()
    }
    assert not (left & silent), "stale comments survived for silently-updated parents"
    # parents with new comments carry exactly the diff's rows
    assert new_comment_ids <= left


def test_http_replication_endpoint_mocked_opener(spark, tmp_path, endpoint):
    """http(s):// base goes through the urllib seam exactly like the
    reference (changesetmd.py:290-300, :337-343): state.yaml head from
    the response stream, each AAA/BBB/CCC.osm.gz diff downloaded ONCE
    to a driver-local file shared by fetch()+comments_for(), then the
    same distributed XML scan. Opener is mocked (no network in this
    sandbox); final replicated state must equal the file:// run's."""
    base, seed = endpoint
    requested: list[str] = []

    def opener(url):
        assert url.startswith("http://repl.example/")
        requested.append(url)
        return open(base / url[len("http://repl.example/"):], "rb")

    src = FileReplicationSource(spark, "http://repl.example/", opener=opener)
    assert src.head() == 3
    assert requested == ["http://repl.example/state.yaml"]

    cs, cm = _seed_stores(spark, tmp_path, seed, "http")
    out = replicate(cs, src, comments_store=cm)
    assert out["applied"] == 3 and out["to"] == 3

    # each diff fetched over the wire exactly once, correct 9-digit paths
    diffs = [u for u in requested if u.endswith(".osm.gz")]
    assert diffs == [f"http://repl.example/000/000/00{i}.osm.gz" for i in (1, 2, 3)]

    final = {r.id: r.num_changes for r in cs.read().collect()}
    assert final[6] == 36 and final[1] == 11 and final[4] == 4
    com = sorted((r.comment_changeset_id, r.comment_text) for r in cm.read().collect())
    assert com == [(2, "c2"), (6, "c6final")]

    src.close()
    assert src._dl_dir is None  # temp downloads reaped


def test_live_holder_lock_never_broken_despite_old_mtime(spark, tmp_path, monkeypatch):
    """VERDICT r3 item 7 (clock-skew hardening): a lockfile whose
    holder pid is ALIVE must never be broken, no matter how old its
    mtime looks (skewed clocks on shared filesystems) — waiters time
    out loudly instead."""
    import os
    import time

    import socket

    store = SnapStore(spark, str(tmp_path / "cs"), key="id")
    lock = os.path.join(store.root, "snapshots.json.lock")
    with open(lock, "w") as f:
        f.write(f"{socket.gethostname()}:{os.getpid()}")  # a live holder (ourselves)
    # older than the ordinary stale bound but younger than the hard
    # pid-reuse backstop: a live holder must survive this range
    old = time.time() - 5 * SnapStore._LOG_LOCK_STALE_S
    os.utime(lock, (old, old))
    monkeypatch.setattr(SnapStore, "_LOG_LOCK_TIMEOUT_S", 0.3)
    with pytest.raises(ConcurrentWriteError, match="log lock stuck"):
        store._commit({"op": "append", "path": "x", "rows": 0, "n_files": 0,
                       "wall_ms": 0, "rows_per_s": 0.0, "partitions": []})
    assert os.path.exists(lock)  # live holder's lock untouched
    # ...but past the HARD bound even an apparently-live pid is broken
    # (pid reuse would otherwise wedge the store forever)
    older = time.time() - 2 * SnapStore._LOG_LOCK_HARD_STALE_S
    os.utime(lock, (older, older))
    store._commit({"op": "append", "path": "x", "rows": 0, "n_files": 0,
                   "wall_ms": 0, "rows_per_s": 0.0, "partitions": []})
    assert not os.path.exists(lock)


def test_dead_holder_lock_broken_immediately(spark, tmp_path):
    """A lockfile whose recorded pid no longer exists is broken at
    once (no staleness wait): liveness is a process check, not a
    clock check."""
    import os
    import subprocess
    import time

    import socket

    store = SnapStore(spark, str(tmp_path / "cs"), key="id")
    lock = os.path.join(store.root, "snapshots.json.lock")
    p = subprocess.Popen(["true"])
    p.wait()  # reaped -> pid guaranteed dead
    with open(lock, "w") as f:
        f.write(f"{socket.gethostname()}:{p.pid}")
    # fresh mtime: the OLD mtime-only policy would have wedged 10s;
    # liveness breaks it immediately
    t0 = time.time()
    store.create(synth.changesets(spark, 5))
    assert store.read().count() == 5
    assert not os.path.exists(lock)


def test_foreign_host_live_lock_not_broken_by_ordinary_staleness(spark, tmp_path, monkeypatch):
    """A lock recorded by ANOTHER host must not be liveness-broken
    (its pid means nothing in our process table) nor broken by the
    ordinary 10s staleness bound (clock skew across hosts) — only the
    minutes-scale HARD bound may reap it."""
    import os
    import time

    store = SnapStore(spark, str(tmp_path / "cs"), key="id")
    lock = os.path.join(store.root, "snapshots.json.lock")
    with open(lock, "w") as f:
        f.write("some-other-host:1")  # pid 1 is alive HERE, but foreign
    old = time.time() - 5 * SnapStore._LOG_LOCK_STALE_S  # stale, < hard
    os.utime(lock, (old, old))
    monkeypatch.setattr(SnapStore, "_LOG_LOCK_TIMEOUT_S", 0.3)
    with pytest.raises(ConcurrentWriteError, match="log lock stuck"):
        store._commit({"op": "append", "path": "x", "rows": 0, "n_files": 0,
                       "wall_ms": 0, "rows_per_s": 0.0, "partitions": []})
    assert os.path.exists(lock)
    older = time.time() - 2 * SnapStore._LOG_LOCK_HARD_STALE_S
    os.utime(lock, (older, older))
    store.create(synth.changesets(spark, 5))  # hard bound reaps it
    assert store.read().count() == 5


def test_break_verifies_record_and_restores_innocent_holder(tmp_path):
    """Break-after-reacquire TOCTOU (round-4 review finding): if,
    between a waiter's read-and-judge and its rename, the lock was
    broken by someone else and RE-ACQUIRED by a new live holder, the
    rename moves the new holder's lockfile — the breaker must detect
    the record mismatch and restore it, not delete it."""
    import glob
    import os
    import socket

    lock = str(tmp_path / "snapshots.json.lock")
    live_rec = f"{socket.gethostname()}:{os.getpid()}:feedbeef"
    with open(lock, "w") as f:
        f.write(live_rec)  # the innocent new holder's lock

    # the breaker judged a STALE record that is no longer there
    SnapStore._break_lock(lock, "crashed-host:99999:deadcafe")

    assert os.path.exists(lock)  # innocent holder keeps the lock
    assert SnapStore._read_lock_record(lock) == live_rec
    assert not glob.glob(lock + ".break-*")  # no debris

    # matching record: the break goes through
    SnapStore._break_lock(lock, live_rec)
    assert not os.path.exists(lock)
    assert not glob.glob(lock + ".break-*")


def test_release_is_nonce_guarded_against_stolen_lock(spark, tmp_path):
    """If a holder's lock is broken and re-acquired while it runs its
    critical section, its release must NOT remove the successor's
    lockfile (removal is by path; only the nonce proves ownership)."""
    import os

    store = SnapStore(spark, str(tmp_path / "cs"), key="id")
    lock = os.path.join(store.root, "snapshots.json.lock")
    successor = "other-host:4242:0badf00d"
    with store._log_lock():
        # simulate steal + re-acquire mid-section
        with open(lock, "w") as f:
            f.write(successor)
    assert os.path.exists(lock)  # successor's lock survived our release
    assert SnapStore._read_lock_record(lock) == successor
    os.remove(lock)
    # normal path still releases: lock is gone after an unmolested section
    with store._log_lock():
        assert SnapStore._read_lock_record(lock) is not None
    assert not os.path.exists(lock)


# ---------------------------------------------------------------------------
# the one-scan read path (_scan / _schema)
# ---------------------------------------------------------------------------

def _resolve(log, as_of):
    """Pure-Python replay of read()'s resolution contract over
    ``log`` = [(snapshot id, op, [(k, v, deleted), ...])] of the
    append/merge/delete snapshots. Compaction preserves the state, so
    compact snapshots are not in ``log``."""
    snaps = [s for s in log if s[0] <= as_of]
    kmax = {}
    for sid, op, rows in snaps:
        if op in ("merge", "delete"):
            for k, _, _ in rows:
                kmax[k] = sid
    out = []
    for sid, op, rows in snaps:
        keyed = op in ("merge", "delete")
        for k, v, deleted in rows:
            m = kmax.get(k)
            if (m is None or (keyed and sid == m) or (not keyed and sid > m)) and not deleted:
                out.append((k, v))
    return sorted(out)


@pytest.mark.parametrize("seed", [11, 12])
def test_read_matches_a_replay_of_the_resolution_contract(spark, tmp_path, seed):
    """Seeded random append/merge/delete_keys/compact sequences on a
    table with several rows per key: read() and read(as_of=id) for
    every snapshot id equal a pure-Python replay of the contract."""
    import random

    rng = random.Random(seed)
    st = SnapStore(spark, str(tmp_path / "m"), key="k", auto_compact_every=4)
    schema = "k int, v int"

    def rows():
        return [(rng.randrange(6), rng.randrange(1000)) for _ in range(rng.randint(1, 6))]

    log = []
    first = rows()
    log.append((st.create(spark.createDataFrame(first, schema)), "append",
                [(k, v, False) for k, v in first]))
    for _ in range(9):
        op = rng.choice(["append", "merge", "merge", "delete", "compact"])
        if op == "compact":
            st.compact()
            continue
        if op == "delete":
            keys = rng.sample(range(6), rng.randint(1, 3))
            cur = _resolve(log, log[-1][0])
            sid = st.delete_keys(spark.createDataFrame([(k,) for k in keys], "k int"))
            log.append((sid, op, [(k, v, True) for k, v in cur if k in keys]))
            continue
        new = rows()
        df = spark.createDataFrame(new, schema)
        sid = st.append(df) if op == "append" else st.merge(df)
        log.append((sid, op, [(k, v, False) for k, v in new]))

    ids = [s["id"] for s in st.snapshots()]
    assert sorted((r.k, r.v) for r in st.read().collect()) == _resolve(log, ids[-1])
    for sid in ids:
        got = sorted((r.k, r.v) for r in st.read(as_of=sid).collect())
        assert got == _resolve(log, sid), f"as_of={sid}"


def test_read_is_one_parquet_scan_over_a_long_log(spark, tmp_path):
    """read() over a log of 10+ snapshots runs one parquet scan, not
    one per snapshot. With keyed snapshots the resolution's aggregate
    reads the same relation through a second scan, pruned to the keyed
    snapshots' files."""
    from changesetmd_spark.profile import operators

    base = synth.changesets(spark, 50)
    st = SnapStore(spark, str(tmp_path / "a"), key="id")
    st.create(base)
    for i in range(10):
        st.append(base.filter(F.col("id") == i + 1))
    agg = st.read().groupBy().count()
    assert agg.collect()[0][0] == 60
    assert len(operators(agg, "FileSourceScanExec")) == 1

    st = SnapStore(spark, str(tmp_path / "k"), key="id", auto_compact_every=0)
    st.create(base)
    for i in range(10):
        st.merge(base.filter(F.col("id") <= i + 1).withColumn("num_changes", F.lit(i)))
    st.delete_keys(spark.range(40, 45).select("id"))
    agg = st.read().groupBy().count()
    assert agg.collect()[0][0] == 45
    scans = operators(agg, "FileSourceScanExec")
    files = sorted(n.metrics().apply("numFiles").value() for n in scans)
    keyed = sum(s["n_files"] for s in st.snapshots() if s["op"] != "append")
    assert files == [keyed, keyed + st.snapshots()[0]["n_files"]]


def test_empty_incremental_has_the_table_schema(spark, tmp_path):
    """An empty incremental range gets the same widest schema and
    ``_snap`` type as a non-empty range up to the head, even when the
    last snapshot lacks a column an earlier one added."""
    st = SnapStore(spark, str(tmp_path / "e"), key="id")
    st.create(spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"))
    st.merge(spark.createDataFrame([(2, "b2", 7.5)], "id int, v string, score double"))
    head = st.merge(spark.createDataFrame([(1, "a2")], "id int, v string"))
    full = st.incremental(0)
    empty = st.incremental(head)
    assert full.count() == 2 and empty.count() == 0
    assert empty.schema == full.schema
    assert full.schema["_snap"].dataType.simpleString() == "bigint"
    assert [c for c in full.columns if c != "_snap"] == ["id", "v", "_deleted", "score"]


def test_type_change_across_snapshots_raises(spark, tmp_path):
    """A column whose type differs between snapshots fails the read,
    naming the column, both types and both snapshot ids; a difference
    in nullability only (a map's valueContainsNull) does not."""
    import json

    st = SnapStore(spark, str(tmp_path / "t"), key="id")
    st.create(spark.createDataFrame([(1, "a")], "id int, v string"))
    st.merge(spark.createDataFrame([(1, 5)], "id int, v int"))
    with pytest.raises(ValueError, match=r"'v' changes type: string in snapshot 0, int in snapshot 1"):
        st.read()

    st = SnapStore(spark, str(tmp_path / "n"), key="id")
    st.create(spark.range(2).select(F.col("id"), F.create_map(F.lit("k"), F.lit("v")).alias("tags")))
    st.merge(spark.createDataFrame([(1, {"k": None})], "id long, tags map<string,string>"))
    assert [json.loads(s["schema"])["fields"][1]["type"]["valueContainsNull"]
            for s in st.snapshots()] == [False, True]
    rows = {r.id: r.tags for r in st.read().collect()}
    assert rows == {0: {"k": "v"}, 1: {"k": None}}


def test_file_outside_the_log_fails_the_read(spark, tmp_path):
    """A scanned file whose directory is in no log entry fails the
    query instead of reading with a null ``_snap``. SnapStore names its
    directories snap-<hex>; a directory whose name the file index
    URI-encodes (here a space) is such a file."""
    import json
    import os

    st = SnapStore(spark, str(tmp_path / "o"), key="id")
    st.create(synth.changesets(spark, 10))
    st.merge(synth.changesets(spark, 3).withColumn("num_changes", F.lit(1)))
    snaps = st.snapshots()
    moved = os.path.join(os.path.dirname(snaps[1]["path"]), "snap moved")
    os.rename(snaps[1]["path"], moved)
    snaps[1]["path"] = moved
    with open(st._log_path(), "w") as f:
        json.dump(snaps, f)
    with pytest.raises(Exception, match="file in no snapshot of the log"):
        st.read().count()


def test_log_without_schema_reads_the_footers(spark, tmp_path):
    """Log entries written before the log recorded ``schema`` take it
    from their snapshot's parquet footer (entries older than the newest
    compact, expired or not, are skipped); read() and time travel give
    the same tables, columns in the same order."""
    import json

    st = SnapStore(spark, str(tmp_path / "l"), key="id")
    base = synth.changesets(spark, 40)
    st.create(base)
    st.merge(base.filter(F.col("id") < 5).withColumn("num_changes", F.lit(3)))
    st.compact()
    st.merge(base.filter(F.col("id") == 7).withColumn("score", F.lit(1.5)))
    st.delete_keys(spark.range(30, 33).select("id"))
    want = {as_of: (st.read(as_of).columns, _table_fingerprint(st.read(as_of))) for as_of in (1, 4)}

    snaps = st.snapshots()
    assert all("schema" in s for s in snaps)
    for s in snaps:
        del s["schema"]
    with open(st._log_path(), "w") as f:
        json.dump(snaps, f)
    for as_of, (cols, fp) in want.items():
        assert st.read(as_of).columns == cols
        assert _table_fingerprint(st.read(as_of)) == fp
    st.expire_snapshots()  # snapshots 0 and 1: footers gone
    assert st.read().columns == want[4][0]
    assert _table_fingerprint(st.read()) == want[4][1]
