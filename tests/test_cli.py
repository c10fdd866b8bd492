"""CLI end-to-end tests — the reference's four shell tests
(SURVEY.md §5: createtables / parsefile / doreplication /
dopartialreplication) re-expressed against main.py in-process."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

# the checkout this test file belongs to, whatever its path
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def cli(spark, monkeypatch):
    """Run main.main(argv) against the session-scoped SparkSession
    (get_spark returns the active session via getOrCreate)."""
    sys.path.insert(0, REPO)
    import main as m

    return m.main


def test1_create_tables(cli, tmp_path, spark):
    assert cli(["create", "--root", str(tmp_path / "t1")]) == 0
    from changesetmd_spark.sources.snapstore import SnapStore

    store = SnapStore(spark, str(tmp_path / "t1" / "changesets"), key="id")
    assert store.read().count() == 0  # empty but schema'd


def test2_parse_file(cli, tmp_path, spark):
    from changesetmd_spark.sources.snapstore import SnapStore
    from changesetmd_spark.sources.xml_ingest import synthesize_fixture_xml

    truth = synthesize_fixture_xml(str(tmp_path / "f.osm"), n=120)
    assert cli(["create", "--root", str(tmp_path / "t2")]) == 0
    assert cli(["load", "--root", str(tmp_path / "t2"), "--file", str(tmp_path / "f.osm")]) == 0
    store = SnapStore(spark, str(tmp_path / "t2" / "changesets"), key="id")
    assert store.read().count() == truth["changesets"]
    comments = SnapStore(spark, str(tmp_path / "t2" / "comments"), key="comment_changeset_id")
    assert comments.read().count() == truth["comments"]


def test3_replication(cli, tmp_path, spark):
    from changesetmd_spark.sources.snapstore import SnapStore

    assert cli(["create", "--root", str(tmp_path / "t3")]) == 0
    assert cli(["replicate", "--root", str(tmp_path / "t3")]) == 0
    store = SnapStore(spark, str(tmp_path / "t3" / "changesets"), key="id")
    assert store.read().count() > 0
    assert store.read_state()["last_sequence"] == 5  # synthetic head


def test4_partial_replication(cli, tmp_path, spark):
    from changesetmd_spark.sources.snapstore import SnapStore

    assert cli(["create", "--root", str(tmp_path / "t4")]) == 0
    assert cli(["replicate", "--root", str(tmp_path / "t4"), "--fromseq", "2", "--toseq", "3"]) == 0
    store = SnapStore(spark, str(tmp_path / "t4" / "changesets"), key="id")
    assert store.read().count() > 0
    # bounded replay must not advance the watermark (reference bypasses state)
    assert store.read_state()["last_sequence"] == -1


def test6_expire_maintenance(cli, tmp_path, spark):
    """`expire` drops pre-compact snapshot data through the CLI and
    leaves the current state readable."""
    from changesetmd_spark.sources.snapstore import SnapStore
    from changesetmd_spark.sources.xml_ingest import synthesize_fixture_xml

    synthesize_fixture_xml(str(tmp_path / "f.osm"), n=60)
    root = tmp_path / "t6"
    assert cli(["create", "--root", str(root)]) == 0
    assert cli(["load", "--root", str(root), "--file", str(tmp_path / "f.osm")]) == 0
    store = SnapStore(spark, str(root / "changesets"), key="id")
    n = store.read().count()
    store.compact()
    assert cli(["expire", "--root", str(root)]) == 0
    assert store.read().count() == n
    assert any(s.get("expired") for s in store.snapshots())


def test5_wire_protocol_replication_with_resume(cli, tmp_path, spark):
    """`replicate --base file://...` drives the real wire-protocol
    adapter end-to-end from the CLI (reference -r --url surface,
    changesetmd.py:518-520): seed via load, replicate to the endpoint
    head, and an interrupted run (head advanced between invocations —
    the CLI analog of crash-at-watermark) resumes and converges to the
    same state as the uninterrupted run."""
    import gzip

    from test_snapstore_replication import (
        _cs_xml,
        _osm_doc,
        _table_fingerprint,
        _write_endpoint,
    )

    from changesetmd_spark.sources.snapstore import SnapStore

    base = tmp_path / "repl"
    base.mkdir()
    docs = {
        1: _osm_doc([_cs_xml(1, 1), _cs_xml(6, 1, ["c6a"])]),
        2: _osm_doc([_cs_xml(2, 2, ["c2"]), _cs_xml(6, 2)]),
        3: _osm_doc([_cs_xml(3, 3), _cs_xml(6, 3, ["c6final"])]),
    }
    seed = tmp_path / "seed.osm.gz"
    with gzip.open(seed, "wt", encoding="utf-8") as f:
        f.write(_osm_doc([_cs_xml(i, 0, ["stale1"] if i == 1 else ()) for i in range(1, 7)]))

    def build(root):
        assert cli(["create", "--root", str(root)]) == 0
        assert cli(["load", "--root", str(root), "--file", str(seed)]) == 0

    # uninterrupted: full endpoint visible at once
    _write_endpoint(base, docs)
    ra = tmp_path / "ra"
    build(ra)
    assert cli(["replicate", "--root", str(ra), "--base", f"file://{base}"]) == 0
    cs_a = SnapStore(spark, str(ra / "changesets"), key="id")
    assert cs_a.read_state()["last_sequence"] == 3

    # interrupted: head says 1 first (run stops there), then advances
    # to 3 — the resume picks up from the committed watermark
    rb = tmp_path / "rb"
    build(rb)
    _write_endpoint(base, {1: docs[1]})
    assert cli(["replicate", "--root", str(rb), "--base", f"file://{base}"]) == 0
    cs_b = SnapStore(spark, str(rb / "changesets"), key="id")
    assert cs_b.read_state()["last_sequence"] == 1
    _write_endpoint(base, docs)
    assert cli(["replicate", "--root", str(rb), "--base", f"file://{base}"]) == 0
    assert cs_b.read_state()["last_sequence"] == 3

    cm_a = SnapStore(spark, str(ra / "comments"), key="comment_changeset_id")
    cm_b = SnapStore(spark, str(rb / "comments"), key="comment_changeset_id")
    assert _table_fingerprint(cs_b.read().drop("tags")) == _table_fingerprint(
        cs_a.read().drop("tags")
    )
    assert _table_fingerprint(cm_b.read()) == _table_fingerprint(cm_a.read())
    # the reference-semantics checks carry through the CLI: stale seed
    # comment on parent 1 gone, parent 6 holds only seq3's comment
    com = sorted(
        (r.comment_changeset_id, r.comment_text) for r in cm_a.read().collect()
    )
    assert com == [(2, "c2"), (6, "c6final")]


def test6_replicate_http_base_accepted(cli, tmp_path, spark, monkeypatch):
    """`replicate --base http://...` is CLI-reachable: the adapter's
    urllib seam is monkeypatched to serve a local endpoint directory
    (no network in this sandbox) and the run replicates to head."""
    from test_snapstore_replication import _cs_xml, _osm_doc, _write_endpoint

    import changesetmd_spark.sources.replication as repl
    from changesetmd_spark.sources.snapstore import SnapStore

    base = tmp_path / "repl"
    base.mkdir()
    _write_endpoint(base, {1: _osm_doc([_cs_xml(1, 1), _cs_xml(2, 1, ["c2"])])})

    monkeypatch.setattr(
        repl.FileReplicationSource,
        "_open_url",
        lambda self, url: open(base / url.split("http.example/", 1)[1], "rb"),
    )
    root = tmp_path / "t6"
    assert cli(["create", "--root", str(root)]) == 0
    assert cli(["replicate", "--root", str(root), "--base", "http://http.example"]) == 0
    store = SnapStore(spark, str(root / "changesets"), key="id")
    assert store.read_state()["last_sequence"] == 1
    assert store.read().count() == 2


def test_spark_submit_py_files_e2e(tmp_path):
    """north_rule packaging: the engine must actually run via
    `spark-submit --py-files engine.zip main.py ...` — zip the package,
    copy ONLY main.py into a clean cwd (the repo is NOT importable from
    there), and run a gated query end-to-end in a fresh spark-submit
    driver. Proves the zip is self-contained and main.py resolves the
    engine exclusively through --py-files, exactly as on a cluster."""
    import shutil
    import subprocess
    import zipfile

    import pyspark

    workdir = tmp_path / "submit"
    workdir.mkdir()
    zpath = workdir / "engine.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "changesetmd_spark")
        for dirpath, _dirnames, filenames in os.walk(pkg):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, REPO))
    shutil.copy(os.path.join(REPO, "main.py"), workdir / "main.py")

    spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zpath),
            "main.py", "query", "count_filter",
            "--sf-dir", "/root/testdata/sf0.001",
        ],
        cwd=workdir, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, f"spark-submit failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    # count_filter's shown table: the two l_linestatus groups
    compact = out.stdout.replace(" ", "")
    assert "l_linestatus" in out.stdout
    assert "|O|" in compact and "|F|" in compact
