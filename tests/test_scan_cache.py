"""Per-build driver costs: the session's parquet schema cache in
`sources.fixtures.load_table` and the Python call-site capture that
`session.get_spark` turns off.

A cache hit must start no Spark job and return the same schema; a file
rewritten at the same path must miss; Spark-written directory tables
take the plain read; warm-cache queries, including a self-join of one
table, still match their DuckDB oracles."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from parallelutilities_jl_spark.sources.fixtures import load_table
from tests.harness_util import compare_query

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def sf01(sf_dir) -> str:
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


def _cached_paths(spark) -> set[str]:
    return {k[0] for k in getattr(spark, "_pu_parquet_schemas", {})}


def _jobs_started(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    gid = f"scan-cache-{uuid.uuid4().hex}"
    sentinel = f"{gid}-sentinel"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed by the listener bus, which delivers job
    # starts in order: once a later sentinel job is visible, every job
    # of `gid` is too
    sc.setJobGroup(sentinel, sentinel)
    try:
        spark.range(1).collect()
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(gid))


def test_second_load_starts_no_job(spark, sf01, tmp_path):
    # a copy at a new path is a guaranteed miss, whatever ran before
    shutil.copy(os.path.join(sf01, "orders.parquet"), tmp_path)
    first, jobs_first = _jobs_started(
        spark, lambda: load_table(spark, str(tmp_path), "orders")
    )
    second, jobs_second = _jobs_started(
        spark, lambda: load_table(spark, str(tmp_path), "orders")
    )
    assert jobs_first >= 1  # the miss runs Spark's schema inference
    assert jobs_second == 0
    assert second.schema == first.schema
    assert second.count() == first.count() > 0


def test_rewritten_file_misses(spark, sf01, tmp_path):
    src = pq.read_table(os.path.join(sf01, "documents.parquet"))
    path = tmp_path / "documents.parquet"
    pq.write_table(src, path)
    before = load_table(spark, str(tmp_path), "documents")
    assert "extra" not in before.columns
    pq.write_table(
        src.append_column("extra", pa.array(range(src.num_rows))), path
    )
    after = load_table(spark, str(tmp_path), "documents")
    assert after.columns == before.columns + ["extra"]
    assert dict(after.dtypes)["extra"] == "bigint"
    assert after.agg({"extra": "max"}).first()[0] == src.num_rows - 1


def test_directory_table_still_loads(spark, tmp_path):
    path = tmp_path / "region.parquet"
    rows = [(0, "AFRICA"), (1, "AMERICA")]
    spark.createDataFrame(rows, "r_regionkey long, r_name string").write.parquet(
        str(path)
    )
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "region")
        assert sorted(tuple(r) for r in df.collect()) == rows
    assert os.path.realpath(path) not in _cached_paths(spark)


def test_nanos_events_convert_on_hit(spark, tmp_path):
    # TIMESTAMP(NANOS) reads as bigint under nanosAsLong; a cached schema
    # must take the same conversion to a microsecond timestamp
    ts = [1_600_000_000_123_456_789, 1_700_000_000_987_654_321]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
        }),
        tmp_path / "events.parquet",
        version="2.6",
    )
    loads = [load_table(spark, str(tmp_path), "events") for _ in range(2)]
    assert os.path.realpath(tmp_path / "events.parquet") in _cached_paths(spark)
    for df in loads:
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = df.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()
        assert [r.us for r in got] == [t // 1000 for t in ts]


@pytest.mark.parametrize("name", ["range_join", "q5_local_supplier_volume"])
def test_warm_cache_queries_match_oracle(spark, sf01, name):
    fn, sql = entrymod.queries()[name], entrymod.oracle_sql()[name]
    fn(spark, sf01)  # fills the cache for every table the query reads
    table = "events" if name == "range_join" else "lineitem"
    assert os.path.realpath(
        os.path.join(sf01, f"{table}.parquet")
    ) in _cached_paths(spark)
    compare_query(spark, sf01, fn, sql, name=name)


# Counts the py4j commands naming PySparkCurrentOrigin, the JVM object
# PySpark's call-site capture sets and clears around every Column call.
# Runs in its own process: PySpark caches the capture option per process.
CALLSITE_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F
from parallelutilities_jl_spark.session import get_spark

extra = {"spark.python.sql.dataFrameDebugging.enabled": v for v in sys.argv[2:]}
spark = get_spark(app_name="pu_callsite", cpus=1, extra_conf=extra)
sent = []
send = GatewayClient.send_command
def counting(self, command, *args, **kwargs):
    sent.append(command)
    return send(self, command, *args, **kwargs)
GatewayClient.send_command = counting
expr = (F.col("a") + 1).alias("b")
GatewayClient.send_command = send
print(sum("PySparkCurrentOrigin" in c for c in sent))
spark.stop()
"""


def _origin_calls(*args: str) -> int:
    proc = subprocess.run(
        [sys.executable, "-c", CALLSITE_SCRIPT, str(REPO), *args],
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return int(proc.stdout.strip().splitlines()[-1])


def test_get_spark_builds_columns_without_callsite_capture():
    assert _origin_calls() == 0
    # the counter sees the capture when a caller turns it back on
    assert _origin_calls("true") > 0
