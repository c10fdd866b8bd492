"""Driver-side plan construction: py4j round trips per gate build
(``profile.driver_calls``) and registry loads with declared schemas
(``entry_queries.load`` against ``schemas.REGISTRY``)."""

from __future__ import annotations

import gc
import os
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.java_gateway import GatewayClient
from pyspark.errors import AnalysisException

from changesetmd_spark import entry_queries as EQ
from changesetmd_spark import profile, schemas

TESTDATA = "/root/testdata"

# py4j commands per build of each query_mix gate, and of the two
# text gates whose builders were the heaviest Column-call ones. The
# mix gates together stay within 2,000 (about 6,800 when every term was
# its own Column call), minhash_lsh alone within 400 (about 3,300-3,900
# before); simhash within 400 (about 9,800 before) and text_features
# within 100 (about 1,050 before).
BUILD_BUDGET = {
    "minhash_lsh": 400,
    "phash_neardup": 400,
    "ann_ivf": 800,
    "audio_features": 400,
    "simhash": 400,
    "text_features": 100,
}


def _types(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_driver_calls_counts_inside_the_block_and_restores_on_raise(spark):
    send = GatewayClient.send_command
    with profile.driver_calls() as outer:
        with profile.driver_calls() as inner:
            spark.range(3).selectExpr("id + 1 AS x")
        spark.range(3).selectExpr("id + 2 AS y")
    assert 0 < inner.n < outer.n
    assert outer.s > 0
    n = outer.n
    spark.range(3).selectExpr("id + 3 AS z")  # after the block: not counted
    assert outer.n == n
    assert GatewayClient.send_command is send
    with pytest.raises(ZeroDivisionError):
        with profile.driver_calls() as failed:
            spark.range(1).selectExpr("id")
            1 / 0
    assert failed.n > 0
    assert GatewayClient.send_command is send


def _wait_for_py4j_finalizers(spark) -> None:
    """Return once py4j's finalizer thread has sent every memory-delete
    command queued so far: it takes tasks in order, so a marker queued
    last runs after all of them."""
    done = threading.Event()

    class Marker:
        def garbage_collect_object(self, target_id, enqueue):
            done.set()

    spark.sparkContext._gateway._gateway_client.finalizer_deque.appendleft((Marker(), None))
    assert done.wait(10), "py4j finalizer thread did not drain"


def test_driver_calls_leaves_out_gc_detaches_of_earlier_objects(spark):
    def build():
        spark.range(3).selectExpr("id + 1 AS x")

    build()
    with profile.driver_calls() as quiet:
        build()
    # Java objects in reference cycles: only a collector pass frees them
    junk = [[spark._jvm.java.util.ArrayList()] for _ in range(200)]
    for cell in junk:
        cell.append(cell)
    del junk, cell
    with profile.driver_calls() as collected:
        build()
        assert gc.collect() >= 200
        _wait_for_py4j_finalizers(spark)
    assert collected.n == quiet.n


@pytest.mark.parametrize("gate", sorted(BUILD_BUDGET))
def test_gate_build_stays_within_its_round_trip_budget(spark, gate):
    sf = f"{TESTDATA}/sf0.001"
    EQ.QUERIES[gate](spark, sf)  # first build: py4j's class lookups
    with profile.driver_calls() as calls:
        EQ.QUERIES[gate](spark, sf)
    assert calls.n <= BUILD_BUDGET[gate], f"{gate}: {calls.n} py4j round trips"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_registry_catalog_equals_spark_inference(spark, sf):
    for name, declared in schemas.REGISTRY.items():
        path = f"{TESTDATA}/{sf}/{name}.parquet"
        inferred = spark.read.parquet(path).schema
        assert _types(declared) == _types(inferred), name
        assert _types(EQ.load(spark, f"{TESTDATA}/{sf}", name).schema) == _types(inferred), name


def _write_orders(tmp_path, **cols) -> str:
    pq.write_table(pa.table(cols), str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_load_raises_on_a_type_change(spark, tmp_path):
    sf = _write_orders(tmp_path, o_orderkey=pa.array([1, 2], type=pa.int32()))
    with pytest.raises(ValueError, match=r"orders: column o_orderkey is int in .*, declared bigint"):
        EQ.load(spark, sf, "orders")


def test_load_raises_on_an_undeclared_column(spark, tmp_path):
    sf = _write_orders(tmp_path, o_orderkey=pa.array([1, 2]), o_extra=pa.array(["a", "b"]))
    with pytest.raises(ValueError, match=r"orders: column o_extra \(string\) in .* is not declared"):
        EQ.load(spark, sf, "orders")


def test_load_reads_only_the_columns_the_file_has(spark, tmp_path):
    # a Spark-style table directory: data files plus a _SUCCESS marker
    d = tmp_path / "orders.parquet"
    d.mkdir()
    pq.write_table(pa.table({"o_orderkey": pa.array([3, 1, 2])}), str(d / "part-0.parquet"))
    open(os.path.join(d, "_SUCCESS"), "w").close()
    df = EQ.load(spark, str(tmp_path), "orders")
    assert _types(df.schema) == [("o_orderkey", "bigint")]
    assert sorted(r[0] for r in df.collect()) == [1, 2, 3]


def test_a_gate_reading_a_missing_column_fails_at_analysis(spark, tmp_path):
    sf = _write_orders(tmp_path, o_custkey=pa.array([1, 2]))
    with pytest.raises(AnalysisException, match="o_orderkey"):
        EQ.QUERIES["phash_neardup"](spark, sf)
