"""The benchmark workloads: which public functions each one calls,
how much input each call consumes, and how each output is checked.

An ``Op`` is one call into the package, split into the phases the traced
run times separately:

* ``build`` — the public call that returns a DataFrame (``None`` when
  the public function itself runs the job, as the dense elsum does);
* ``exec`` — the action that runs it (``toArrow`` collect, a parquet
  sink, or the call itself), returning what ``check`` inspects.

Checks run after the op's pass has been timed. Functions shipped to
executors are closures over plain values so that cloudpickle sends them
by value: this directory is not importable on the executors.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import re
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable

import numpy as np
import pyarrow as pa

import gen

FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem documents".split()
)


@dataclass
class Op:
    name: str
    fn: Callable  # the package's public function this op calls
    exec: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    rows: int  # input rows the call consumes
    build: Callable[[], Any] | None = None

    @property
    def layer(self) -> str:
        """Package module the op's public function lives in: the
        operator file for ``operators.*``, else the subpackage."""
        parts = self.fn.__module__.split(".")
        return parts[-1] if parts[1] == "operators" else parts[1]


@dataclass
class Workload:
    ops: list[Op]
    info: dict = field(default_factory=dict)  # figures a check records


# --- DuckDB oracle comparison ---------------------------------------------
# The comparison of tests/harness_util.compare_query (rows, schema by Arrow
# type class, order-insensitive values with floats to 9 significant
# digits), applied to an output already collected inside the timed pass.


def _type_class(t: pa.DataType) -> str:
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_type_class(t.value_type)}>"
    return str(t)


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _canonical(t: pa.Table) -> tuple[list, list]:
    cols = sorted(t.schema.names)
    schema = [(c, _type_class(t.schema.field(c).type)) for c in cols]
    rows = sorted(
        (tuple(_norm(r[c]) for c in cols) for r in t.to_pylist()), key=repr
    )
    return schema, rows


class Oracle:
    """DuckDB over the generated tables; one canonical result per query."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self._con = None
        self._cache: dict[str, tuple[list, list]] = {}

    def expected(self, sql: str) -> tuple[list, list]:
        if sql not in self._cache:
            if self._con is None:
                import duckdb

                self._con = duckdb.connect()
                for t in FIXTURE_TABLES:
                    p = os.path.join(self.data_dir, f"{t}.parquet")
                    if os.path.exists(p):
                        self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            self._cache[sql] = _canonical(self._con.execute(sql).fetch_arrow_table())
        return self._cache[sql]

    def checker(self, sql: str) -> Callable[[pa.Table], str | None]:
        def check(got: pa.Table) -> str | None:
            want_schema, want_rows = self.expected(sql)
            schema, rows = _canonical(got)
            if schema != want_schema:
                return f"schema {schema} != oracle {want_schema}"
            if len(rows) != len(want_rows):
                return f"{len(rows)} rows != oracle {len(want_rows)}"
            if rows != want_rows:
                return "values differ from the oracle"
            return None

        return check

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def _tables_rows(data_dir: str, sql: str) -> int:
    """Rows of every fixture table the oracle SQL reads: the input a
    query consumes."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
        for t in FIXTURE_TABLES
        if re.search(rf"\b{t}\b", sql)
    )


def _to_arrow(df):
    return df.toArrow()


def _collect(df):
    return df.collect()


def _result_is(want: int) -> Callable[[list], str | None]:
    def check(rows) -> str | None:
        got = rows[0]["result"]
        return None if got == want else f"result {got} != {want}"

    return check


def oracle_ops(spark, data_dir: str, oracle: Oracle, names: list[str],
               registry: dict, oracles: dict) -> list[Op]:
    ops = []
    for n in names:
        fn, sql = registry[n], oracles[n]
        ops.append(Op(
            name=n, fn=fn, build=lambda fn=fn: fn(spark, data_dir),
            exec=_to_arrow, check=oracle.checker(sql),
            rows=_tables_rows(data_dir, sql),
        ))
    return ops


# --- refmap: the reference's own surface --------------------------------

ELSUM_TASKS, ELSUM_SHAPE = 32, (10_000, 1_000)  # reference docs/src/index.md:22-28
LONG_SHAPE = (1_000, 1_000)
PRODUCT = (4_000, 2_500)  # pmapreduce over a 10^7-element product
SPLIT_SIDE = 1_000  # productsplit over a 10^3 x 10^3 product
META_SIDE, META_NP, META_P = 100_000, 25_000, 1_500  # BASELINE.md split
META_QUERIES = 2_000


def _mod_sum(n1: int, n2: int, a: int, b: int, m: int) -> int:
    """Exact sum of (c1*a + c2*b) % m over c1 in 1..n1, c2 in 1..n2,
    from the residue histograms, without enumerating the product."""
    h1 = np.bincount((np.arange(1, n1 + 1, dtype=np.int64) * a) % m, minlength=m)
    h2 = np.bincount((np.arange(1, n2 + 1, dtype=np.int64) * b) % m, minlength=m)
    r = np.arange(m)
    return int(sum(int(h1[i]) * int((h2 * ((i + r) % m)).sum()) for i in range(m)))


def refmap(spark, data: str, work_dir: str, seed: int, cores: int) -> Workload:
    from parallelutilities_jl_spark.operators import mapreduce as mr
    from parallelutilities_jl_spark.operators.reductions import SUM, Commutative
    from parallelutilities_jl_spark.plans.productsplit import ProductSpec, whichproc
    from parallelutilities_jl_spark.sources.ranges import rng as rrange

    r = np.random.default_rng([seed, 20])
    # per-task constants: the reference's ones(10_000, 1_000) with a
    # seeded small-integer fill, so every float64 sum stays exact
    consts = r.integers(1, 10, ELSUM_TASKS).astype(np.float64).tolist()
    long_consts = r.integers(1, 10, ELSUM_TASKS).astype(np.float64).tolist()
    a, b, m = (int(x) for x in r.integers(2, 50, 3))
    lo1, lo2 = (int(x) for x in r.integers(1, 1000, 2))
    sink = os.path.join(work_dir, "elsum_long.parquet")

    def check_elsum(out) -> str | None:
        if out.shape != ELSUM_SHAPE or out.dtype != np.float64:
            return f"shape {out.shape} dtype {out.dtype}"
        if not (out == sum(consts)).all():
            return "elementwise sum is not the sum of the task constants"
        return None

    def run_long(df):
        df.write.mode("overwrite").parquet(sink)
        return sink

    def check_long(path) -> str | None:
        import pyarrow.parquet as pq

        t = pq.read_table(path)
        n = LONG_SHAPE[0] * LONG_SHAPE[1]
        idx = np.sort(t.column("idx").to_numpy())
        if t.num_rows != n or not (idx == np.arange(n)).all():
            return f"{t.num_rows} rows, indices not 0..{n - 1}"
        if not (t.column("value").to_numpy() == sum(long_consts)).all():
            return "elementwise sum is not the sum of the task constants"
        return None

    def mapf(c1, c2):
        return (c1 * a + c2 * b) % m

    ranges = [rrange(1, n) for n in PRODUCT]
    check_sum = _result_is(_mod_sum(*PRODUCT, a, b, m))
    spec = ProductSpec((rrange(lo1, lo1 + SPLIT_SIDE - 1), rrange(lo2, lo2 + SPLIT_SIDE - 1)))
    check_split = _result_is(
        sum(range(lo1, lo1 + SPLIT_SIDE)) * sum(range(lo2, lo2 + SPLIT_SIDE)))

    def rank_program(ps, pdf):
        import pandas as pd

        return pd.DataFrame({"p": [ps.p], "v": [int((pdf["c1"] * pdf["c2"]).sum())]})

    big = ProductSpec(tuple(rrange(1, META_SIDE) for _ in range(3)))
    ps = big.split(META_NP, META_P)
    vals = [tuple(int(x) for x in v) for v in r.integers(1, META_SIDE + 1, (META_QUERIES, 3))]
    # half the probes fall inside split META_P, so membership is exercised both ways
    vals[::2] = [ps[int(i)] for i in r.integers(0, len(ps), len(vals[::2]))]

    def run_meta(_):
        owners = [whichproc(big, v, META_NP) for v in vals]
        inside = [v in ps for v in vals]
        extrema = [ps.extremaelement(d) for d in range(3)]
        counts = [ps.nelements(d) for d in range(3)]
        local = [ps.localindex(v) for v, i in zip(vals, inside) if i]
        return owners, inside, extrema, counts, local

    def check_meta(out) -> str | None:
        owners, inside, extrema, counts, local = out
        if any((o == META_P) != i for o, i in zip(owners, inside)):
            return "whichproc disagrees with split membership"
        probes = [v for v, i in zip(vals, inside) if i]
        if any(ps[k - 1] != v for k, v in zip(local, probes)):
            return "localindex does not round-trip"
        for d in range(3):
            lo, hi = extrema[d]
            if not all(lo <= v[d] <= hi for v in probes) or counts[d] < 1:
                return f"extrema/nelements of dim {d + 1} exclude a member"
        return None

    ops = [
        Op("dense_elsum", mr.pmapreduce_dense_elsum,
           exec=lambda _: mr.pmapreduce_dense_elsum(
               spark, ELSUM_TASKS, lambda i: np.full(ELSUM_SHAPE, consts[i])),
           check=check_elsum, rows=ELSUM_TASKS * ELSUM_SHAPE[0] * ELSUM_SHAPE[1]),
        Op("dense_elsum_long", mr.pmapreduce_dense_elsum_long,
           build=lambda: mr.pmapreduce_dense_elsum_long(
               spark, ELSUM_TASKS, lambda i: np.full(LONG_SHAPE, long_consts[i])),
           exec=run_long, check=check_long,
           rows=ELSUM_TASKS * LONG_SHAPE[0] * LONG_SHAPE[1]),
        Op("pmapreduce_commutative", mr.pmapreduce,
           build=lambda: mr.pmapreduce(spark, mapf, Commutative(SUM), ranges,
                                       product=True, np=cores),
           exec=_collect, check=check_sum, rows=PRODUCT[0] * PRODUCT[1]),
        Op("pmapreduce_ordered", mr.pmapreduce,
           build=lambda: mr.pmapreduce(spark, mapf, SUM, ranges, product=True, np=cores),
           exec=_collect, check=check_sum, rows=PRODUCT[0] * PRODUCT[1]),
        Op("productsplit_arrow", mr.pmapreduce_productsplit,
           build=lambda: mr.pmapreduce_productsplit(
               spark, spec, 2 * cores, rank_program, "p long, v long", Commutative(SUM)),
           exec=_collect, check=check_split, rows=SPLIT_SIDE ** 2),
        Op("split_metadata", whichproc, exec=run_meta, check=check_meta,
           rows=META_QUERIES),
    ]
    return Workload(ops, {"meta_queries": META_QUERIES, "consts": consts})


# --- star_sql: Catalyst, parquet scan, joins -----------------------------

STAR_SF = 0.05
STAR_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q18_large_orders", "runtime_filtered_join",
]


def star_sql(spark, data: str, work_dir: str, seed: int, cores: int) -> Workload:
    from parallelutilities_jl_spark.operators import joins, relational

    oracle = Oracle(data)
    registry = {**relational.QUERIES, **joins.QUERIES}
    oracles = {**relational.ORACLES, **joins.ORACLES}
    ops = oracle_ops(spark, data, oracle, STAR_QUERIES, registry, oracles)
    return Workload(ops, {"oracle": oracle})


# --- curation: the LLM-data-pipeline north star --------------------------

CURATION_DOCS = 4_000
# codec round trips over the same corpus: per-row Python codecs behind Arrow
MEDIA_CODECS = ["multimodal_wav_decode"]


def _lsh_floor(near_groups, texts: dict[int, str]) -> tuple[float, int]:
    """Lower bound on how many (original, near copy) pairs MinHash-LSH
    must find: each pair of exact shingle Jaccard J >= 0.3 becomes a
    candidate with probability 1 - (1 - J^r)^b; the floor is the
    expected count minus five binomial standard deviations."""
    from parallelutilities_jl_spark.operators import dedup

    r, b = dedup.ROWS_PER_BAND, dedup.BANDS
    mean = var = 0.0
    n = 0
    for g in near_groups:
        sa = gen.shingles(texts[g[0]], dedup.SHINGLE_K)
        for c in g[1:]:
            sb = gen.shingles(texts[c], dedup.SHINGLE_K)
            j = len(sa & sb) / len(sa | sb)
            p = 1 - (1 - j ** r) ** b if j >= dedup.JACCARD_THRESHOLD else 0.0
            mean += p
            var += p * (1 - p)
            n += 1
    return mean - 5 * math.sqrt(var), n


def curation(spark, data: str, work_dir: str, seed: int, cores: int) -> Workload:
    import pyarrow.parquet as pq

    from parallelutilities_jl_spark.operators import dedup, multimodal, pipeline
    from parallelutilities_jl_spark.sources import fixtures, sinks

    with open(os.path.join(data, "ground_truth.json")) as f:
        gt = json.load(f)
    texts = dict(zip(*pq.read_table(os.path.join(data, "documents.parquet"),
                                    columns=["doc_id", "text"]).to_pydict().values()))
    oracle = Oracle(data)
    n = gt["n_docs"]
    sink = os.path.join(work_dir, "kept")
    wl = Workload([], {"oracle": oracle})
    planted = [(g[0], c) for g in gt["exact_groups"] + gt["near_groups"] for c in g[1:]]
    planted += [(g[i], g[j]) for g in gt["near_groups"]
                for i in range(1, len(g)) for j in range(i + 1, len(g))]
    floor, n_near_pairs = _lsh_floor(gt["near_groups"], texts)
    near_pairs = [(g[0], c) for g in gt["near_groups"] for c in g[1:]]
    exact = sorted(sorted(g) for g in gt["exact_groups"])

    def check_exact(t: pa.Table) -> str | None:
        rows = t.select(["doc_id", "canonical_id", "is_dup"]).to_pylist()
        if len(rows) != n:
            return f"{len(rows)} rows for {n} docs"
        groups: dict[int, list[int]] = {}
        for row in rows:
            if row["is_dup"]:
                groups.setdefault(row["canonical_id"], []).append(row["doc_id"])
        found = sorted(sorted(g) for g in groups.values())
        if found != exact:
            return f"{len(found)} exact groups found, {len(exact)} planted"
        if any(k != min(g) for k, g in groups.items()):
            return "canonical id is not the group minimum"
        return None

    def check_components(t: pa.Table) -> str | None:
        comp = dict(zip(t.column("doc_id").to_pylist(), t.column("component_id").to_pylist()))
        wl.info["component_docs"] = len(comp)

        def joined(u, v):
            return u in comp and comp.get(u) == comp.get(v)

        wl.info["dedup_recall"] = sum(joined(u, v) for u, v in planted) / len(planted)
        found = sum(joined(u, v) for u, v in near_pairs)
        if found < floor:
            return f"{found}/{n_near_pairs} near pairs found, LSH floor {floor:.1f}"
        if not all(joined(u, v) for u, v in gt["exact_groups"]):
            return "an exact duplicate pair is split across components"
        return None

    def build_kept():
        ex = dedup.q_dedup_exact(spark, data)
        keep = ex.filter(ex.doc_id == ex.canonical_id).select("doc_id")
        return fixtures.load_table(spark, data, "documents").join(keep, "doc_id")

    def run_kept(df):
        sinks.write_partitioned(df, sink, ["lang"])
        return sink

    def check_kept(path) -> str | None:
        got = pq.ParquetDataset(path).read(columns=["doc_id"]).num_rows
        want = n - len(gt["exact_groups"])
        return None if got == want else f"{got} kept rows, want {want}"

    wl.ops = oracle_ops(spark, data, oracle, ["corpus_filter_pipeline"],
                        pipeline.QUERIES, pipeline.ORACLES) + [
        Op("dedup_exact", dedup.q_dedup_exact,
           build=lambda: dedup.q_dedup_exact(spark, data),
           exec=_to_arrow, check=check_exact, rows=n),
        Op("dedup_components", dedup.q_dedup_components,
           build=lambda: dedup.q_dedup_components(spark, data),
           exec=_to_arrow, check=check_components, rows=n),
        Op("write_kept", sinks.write_partitioned, build=build_kept,
           exec=run_kept, check=check_kept, rows=n),
    ] + oracle_ops(spark, data, oracle, MEDIA_CODECS, multimodal.QUERIES,
                   multimodal.ORACLES)
    return wl


WORKLOADS = {"refmap": refmap, "star_sql": star_sql, "curation": curation}

# seeded inputs, written under ``root`` before Spark starts; refmap's
# inputs are per-task constants drawn from the seed inside the workload
INPUTS = {
    "refmap": lambda root, seed: root,
    "star_sql": lambda root, seed: gen.gen_star(root, seed, STAR_SF),
    "curation": lambda root, seed: gen.gen_corpus(root, "curation", seed, CURATION_DOCS),
}
