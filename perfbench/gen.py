"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed writes
byte-identical parquet files. Inputs are generated before Spark starts,
into a directory whose name carries an ``sf`` marker, because
``sources.fixtures.sf_of`` parses it to size synthetic-input queries.

Value domains copy the relational fixtures of ``FIXTURES.md`` §B (read once
from the seed-42 ``sf0.1`` tables when this generator was written), so
the filters the queries hard-code (``'ASIA'``, ``'BUILDING'``, order-date
windows, ``Brand#..``) stay as selective as they are on the fixtures.
Columns are independent uniform draws, as in the fixtures.
"""

from __future__ import annotations

import json
import os
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- value domains of the relational fixtures (FIXTURES.md §B, sf0.1) ---
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUS = ("F", "O")
ORDER_DAYS = (date(1995, 1, 1), date(2001, 8, 1))
SHIP_DAYS = (date(1995, 1, 2), date(2001, 11, 4))
# rows per unit scale factor (sf0.1 fixture: 600k lineitem, 150k orders)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}
# documents: 30-word vocabulary, 44..577 chars, 41% en and ~15% each
# of de/es/fr/zh, 20 round-robin sources (src0 is the held-out eval
# slice, `sources.fixtures.EVAL_SOURCE`); 5_000 docs per sf0.01
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
DOCS_PER_SF = 500_000
WORDS = (8, 100)

EXACT_SHARE = 0.02  # docs that are verbatim copies of another doc
NEAR_SHARE = 0.08  # docs that are edited copies of another doc
NEAR_EDIT = 0.05  # share of a near copy's words replaced


def sf_dir(root: str, name: str, sf: float) -> str:
    return os.path.join(root, f"{name}_sf{sf:g}")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, span: tuple[date, date], n: int) -> pa.Array:
    lo = np.datetime64(span[0], "ms").astype(np.int64)
    n_days = (span[1] - span[0]).days + 1
    ms = lo + rng.integers(0, n_days, n).astype(np.int64) * 86_400_000
    return pa.array(ms, type=pa.timestamp("ms"))


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


def gen_star(root: str, seed: int, sf: float) -> str:
    """TPC-H-ish star schema (FIXTURES.md §B) at scale factor ``sf``."""
    out = sf_dir(root, "star", sf)
    os.makedirs(out, exist_ok=True)
    n = {t: max(1, round(r * sf)) for t, r in ROWS_PER_SF.items()}

    def path(t: str) -> str:
        return os.path.join(out, f"{t}.parquet")

    _write(path("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(path("nation"), {
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in range(N_NATIONS)]),
        "n_regionkey": pa.array([k % 5 for k in range(N_NATIONS)], pa.int32()),
    })
    r = _rng(seed, 1)
    k = n["customer"]
    _write(path("customer"), {
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(r.integers(0, N_NATIONS, k).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, k)),
        "c_mktsegment": _pick(r, SEGMENTS, k),
    })
    r = _rng(seed, 2)
    k = n["supplier"]
    _write(path("supplier"), {
        "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(r.integers(0, N_NATIONS, k).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, k)),
    })
    r = _rng(seed, 3)
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    names = np.char.add(
        np.char.add(np.asarray(P_ADJ)[r.integers(0, 8, k)], " "),
        np.asarray(P_NOUN)[r.integers(0, 8, k)],
    )
    _write(path("part"), {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names.astype(object)),
        "p_brand": pa.array(
            np.char.add("Brand#", r.integers(1, 26, k).astype(str)).astype(object)
        ),
        "p_type": _pick(r, P_TYPES, k),
        "p_size": pa.array(r.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
    })
    r = _rng(seed, 4)
    k = n["orders"]
    _write(path("orders"), {
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n["customer"], k).astype(np.int64)),
        "o_orderstatus": _pick(r, ORDER_STATUS, k),
        "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, k)),
        "o_orderdate": _days(r, ORDER_DAYS, k),
        "o_orderpriority": _pick(r, PRIORITIES, k),
    })
    r = _rng(seed, 5)
    k = n["lineitem"]
    _write(path("lineitem"), {
        "l_orderkey": pa.array(r.integers(0, n["orders"], k).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n["part"], k).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, k).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, k)),
        "l_discount": pa.array(r.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, k) / 100.0),
        "l_returnflag": _pick(r, RETURN_FLAGS, k),
        "l_linestatus": _pick(r, LINE_STATUS, k),
        "l_shipdate": _days(r, SHIP_DAYS, k),
    })
    return out


def shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    """Distinct word k-shingles, the unit `dedup.minhash_per_doc` hashes
    (the generated text is lower-case words split by single spaces)."""
    ws = text.split(" ")
    return {tuple(ws[i:i + k]) for i in range(len(ws) - k + 1)}


def gen_corpus(root: str, name: str, seed: int, n_docs: int) -> str:
    """``documents`` table with planted duplicate clusters.

    ~2% of the docs are verbatim copies of another doc (exact clusters
    of 2) and ~8% are near copies: 5% of the words (at least one)
    replaced by a different vocabulary word, one or two copies per
    original. Copies sit at random doc ids. ``ground_truth.json`` lists
    every planted cluster as ``[original, copy, ...]``."""
    out = sf_dir(root, name, n_docs / DOCS_PER_SF)
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 10)
    vocab = np.asarray(VOCAB, dtype=object)
    n_exact = round(EXACT_SHARE * n_docs)
    n_near = round(NEAR_SHARE * n_docs)
    # doc-id slots: a random permutation decides which ids hold copies
    slots = r.permutation(n_docs)
    copy_ids = slots[: n_exact + n_near]
    orig_ids = np.sort(slots[n_exact + n_near:])

    texts: list[str | None] = [None] * n_docs
    seen: set[str] = set()
    for d in orig_ids:
        while True:  # originals are pairwise distinct
            t = " ".join(vocab[r.integers(0, len(vocab), r.integers(*WORDS, endpoint=True))])
            if t not in seen:
                break
        seen.add(t)
        texts[d] = t
    lang = np.asarray(LANGS, dtype=object)[r.choice(len(LANGS), n_docs, p=LANG_P)]

    bases = r.permutation(orig_ids)
    exact_groups, near_groups = [], []
    for j, c in enumerate(copy_ids[:n_exact]):
        b = int(bases[j])
        texts[c] = texts[b]
        lang[c] = lang[b]
        exact_groups.append([b, int(c)])
    near_copies = copy_ids[n_exact:]
    j, bi = 0, n_exact
    while j < len(near_copies):
        b = int(bases[bi])
        bi += 1
        size = min(int(r.integers(1, 3, endpoint=True)), len(near_copies) - j)
        group = [b]
        for c in near_copies[j:j + size]:
            while True:  # an edit that recreates a known text is redrawn
                ws = texts[b].split(" ")
                n_edit = max(1, round(NEAR_EDIT * len(ws)))
                for pos in r.choice(len(ws), n_edit, replace=False):
                    step = r.integers(1, len(vocab))
                    ws[pos] = vocab[(VOCAB.index(ws[pos]) + step) % len(vocab)]
                t = " ".join(ws)
                if t not in seen:
                    break
            seen.add(t)
            texts[c] = t
            lang[c] = lang[b]
            group.append(int(c))
        near_groups.append(group)
        j += size
    if len(set(texts)) != n_docs - n_exact:
        raise RuntimeError("corpus generator planted an unintended exact duplicate")

    ids = np.arange(n_docs, dtype=np.int64)
    _write(os.path.join(out, "documents.parquet"), {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    with open(os.path.join(out, "ground_truth.json"), "w") as f:
        json.dump({"n_docs": n_docs, "exact_groups": exact_groups,
                   "near_groups": near_groups}, f)
    return out
