"""Parquet fixture loaders (the engine's scans).

The reference has no file formats or connectors — its "scans" are lazy
task-set constructors (reference src/mapreduce.jl:18-38). Hosting the
engine on Spark makes parquet the native scan: columnar, predicate
pushdown, column pruning, partition pruning all come from Catalyst.

Schema cache. A bare `spark.read.parquet(file)` runs a Spark job
(`mergeSchemasInParallel`) only to learn the file's schema, and every
query build pays it again for every table it reads. `load_table` pays
it once per file per session, the way the reference answers split
metadata on the caller without asking a worker (reference
`ProductSplit`):

* miss: the first read is the plain `spark.read.parquet(path)`, and its
  inferred `StructType` is stored on the `SparkSession` object;
* hit: every later read is `spark.read.schema(cached).parquet(path)`,
  which starts no job.

Only the schema is cached, never a DataFrame, so each call still builds
a fresh relation with fresh attribute ids and self-joins resolve as
before. The key is the file's real path, its parquet footer bytes (read
with plain file I/O, so a file rewritten at the same path misses
exactly) and the values of the confs that change parquet inference
(`_INFERENCE_CONFS`). Directories (Spark-written tables) and non-local
URIs are not cached and take the plain read. A new session starts with
an empty cache.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def sf_of(sf_dir: str) -> float:
    """Scale factor parsed from a fixture dir name ('.../sf0.1' → 0.1);
    0.0 when the path has no sf marker. Used by synthetic-input queries
    to size their workload to the scale being run (small for the sf0.01
    correctness sweep, the published reference shape at bench scale)."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    if not m:
        return 0.0
    try:
        return float(m.group(1).rstrip("."))
    except ValueError:
        return 0.0

# Dimension tables small enough to broadcast at ANY scale factor: their
# cardinality is fixed (region=5, nation=25) or grows sub-linearly. At
# 100 TB these still fit in an executor — always broadcast them.
BROADCASTABLE = {"region", "nation", "supplier", "part", "customer"}


# the held-out "benchmark" slice of the documents fixture — the eval
# side of every contamination screen (lives here, with the fixture
# loaders, so text.py and pipeline.py can both use it without a
# circular import)
EVAL_SOURCE = "src0"


# confs whose values change the schema parquet inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _parquet_footer(path: str) -> bytes | None:
    """Footer of a local parquet file: the Thrift file metadata, its
    4-byte length and the closing ``PAR1`` magic. None when ``path`` is
    not a readable parquet file (a directory, a URI, a truncated file)."""
    try:
        with open(path, "rb") as f:
            f.seek(-8, os.SEEK_END)
            tail = f.read(8)
            if tail[4:] != b"PAR1":
                return None
            f.seek(-8 - int.from_bytes(tail[:4], "little"), os.SEEK_END)
            return f.read()
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` through the session's schema cache
    (module docstring). Two racing misses both infer and store the same
    schema, so no lock is needed."""
    footer = _parquet_footer(path)
    if footer is None:
        return spark.read.parquet(path)
    key = (
        os.path.realpath(path),
        footer,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    cache = getattr(spark, "_pu_parquet_schemas", None)
    if cache is None:
        cache = spark._pu_parquet_schemas = {}
    schema = cache.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    cache[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which the Spark vectorized
        # reader rejects; read nanos as long and convert to a microsecond
        # timestamp (exact integer div on the JVM side — values exceed 2^53
        # so double arithmetic would be lossy).
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df
    return _read_parquet(spark, path)


def load_table_parallel(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """`load_table` + repartition to the session's core count.

    For CPU-heavy downstream work (regex/shingling/hashing) over a
    fixture that arrives as one parquet file — one input split would
    serialize the whole pipeline on a single core. On a real cluster the
    scan has thousands of splits and the repartition collapses into a
    no-op-sized shuffle of the raw rows."""
    return load_table(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table and register temp views (for spark.sql)."""
    out = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
