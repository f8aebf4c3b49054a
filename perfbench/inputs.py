"""Seeded benchmark inputs.

The tables have the schema, row counts and value distributions of the
repository's TPC-H-style test data (lineitem, orders, customer, part,
supplier, nation, region, events, documents, embeddings).  They are made
in two steps:

1. ``base_tables(sf)`` draws every value from a FIXED generator seed, so
   the work a query does is the same for every benchmark seed.
2. ``derive(base, seed, replicas)`` applies the benchmark seed: it
   permutes the row order of every table and, for ``replicas`` > 1,
   stacks that many disjoint copies of the TPC-H tables whose key offsets
   come from the seed (nation and region are shared).

Row and file counts depend only on (sf, replicas), never on the seed.
Each table is a directory ``<name>.parquet`` of part files, readable by
Spark and by DuckDB's ``read_parquet('<dir>/*.parquet')``.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 20240101
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
# Tables whose keys are offset per replica; the rest are shared.
REPLICATED = ("customer", "supplier", "part", "orders", "lineitem")
# Each key and the table whose row count sizes its key space.
_KEYS = {"custkey": "customer", "suppkey": "supplier", "partkey": "part",
         "orderkey": "orders"}
_KEY_COLS = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey", "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
}
_NAME_COLS = {"customer": ("c_name", "Customer#", "c_custkey"),
              "supplier": ("s_name", "Supplier#", "s_suppkey")}

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = "large hot blue old cold red small green".split()
_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
_EPOCH_DAY = np.datetime64("1970-01-01", "D")


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = (np.datetime64(start, "D") - _EPOCH_DAY).astype(int)
    hi = (np.datetime64(end, "D") - _EPOCH_DAY).astype(int)
    d = rng.integers(lo, hi + 1, n)
    return (d.astype("int64") * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def base_tables(sf: float) -> dict[str, pa.Table]:
    """Every table at scale factor ``sf`` (0.1 gives the test data's
    600k lineitem rows), drawn from the fixed ``BASE_SEED``."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(150, int(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng),
    })

    gaps = rng.exponential(1.0, n_ev)
    span_us = 30 * 86_400_000_000
    ts = np.datetime64("2024-01-01", "us") + (
        np.cumsum(gaps) / gaps.sum() * (span_us - 60_000_000)
    ).astype("int64").astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup",
                                    "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, n_doc)]
    # 5% near-duplicates (an earlier text plus one token) and a few
    # exact copies, the duplicate structure the dedup queries look for.
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n_doc), max(2, n_doc // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": _choice(rng, ["en", "zh", "es", "fr", "de"], n_doc,
                        p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })

    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def _offsets(seed: int, replicas: int, base: dict[str, pa.Table]) -> list[dict]:
    """Per-replica key offsets ``floor + slot * stride``: ``stride``
    exceeds the key space, the slots are a seed permutation of the
    replicas and each floor is a seed-chosen multiple of
    ``replicas * stride``, so replicas never overlap."""
    rng = np.random.default_rng([seed, replicas])
    slots = rng.permutation(replicas)
    out = []
    for r in range(replicas):
        off = {}
        for key, table in _KEYS.items():
            stride = 10 ** len(str(base[table].num_rows))
            floor = int(rng.integers(0, 10)) * stride * replicas
            off[key] = floor + int(slots[r]) * stride
        out.append(off)
    return out


def _replica(table: pa.Table, name: str, off: dict) -> pa.Table:
    for col, key in _KEY_COLS.get(name, {}).items():
        i = table.schema.get_field_index(col)
        shifted = pc.add(table[col], off[key])
        table = table.set_column(i, col, shifted)
    if name in _NAME_COLS:
        col, prefix, key_col = _NAME_COLS[name]
        keys = table[key_col]
        i = table.schema.get_field_index(col)
        table = table.set_column(
            i, col, pa.array([f"{prefix}{k:09d}" for k in keys.to_pylist()]))
    return table


def derive(base: dict[str, pa.Table], seed: int, replicas: int,
           files: int) -> dict[str, list[pa.Table]]:
    """Apply ``seed`` to the base tables: ``replicas`` disjoint copies of
    the TPC-H tables, then a seed permutation of every table's rows,
    split into ``files`` equal part files (1 for the small tables)."""
    offsets = _offsets(seed, replicas, base)
    rng = np.random.default_rng([seed, 7])
    out = {}
    for name in TABLES:
        t = base[name]
        if name in REPLICATED:
            t = pa.concat_tables([_replica(t, name, o) for o in offsets])
        t = t.take(rng.permutation(t.num_rows))
        k = files if t.num_rows >= 100_000 else 1
        step = -(-t.num_rows // k)
        out[name] = [t.slice(i * step, step) for i in range(k)]
    return out


def check_invariants(base: dict[str, pa.Table],
                     derived: dict[str, list[pa.Table]], replicas: int) -> None:
    """Row counts are exactly ×replicas for the replicated tables and
    unchanged elsewhere; so are TPC-H Q1's per-group counts."""
    for name in TABLES:
        rows = sum(p.num_rows for p in derived[name])
        want = base[name].num_rows * (replicas if name in REPLICATED else 1)
        if rows != want:
            raise AssertionError(f"{name}: {rows} rows, expected {want}")
    def q1_counts(tables):
        t = pa.concat_tables(tables).group_by(
            ["l_returnflag", "l_linestatus"]).aggregate([([], "count_all")])
        return {(a, b): c for a, b, c in zip(*t.to_pydict().values())}
    got = q1_counts(derived["lineitem"])
    for k, c in q1_counts([base["lineitem"]]).items():
        if got.get(k) != c * replicas:
            raise AssertionError(f"Q1 group {k}: {got.get(k)} != {c}×{replicas}")
    keys = pa.concat_tables(derived["orders"])["o_orderkey"]
    if pc.count_distinct(keys).as_py() != len(keys):
        raise AssertionError("replica order keys overlap")


def materialize_inputs(root: Path, sf: float, seed: int, replicas: int,
                       files: int) -> Path:
    """Write the derived tables under ``root`` once per (sf, seed,
    replicas, files) and return their directory."""
    out = root / f"sf{sf}_x{replicas}_f{files}_seed{seed}"
    marker = out / "_READY.json"
    if marker.exists():
        return out
    if out.exists():
        shutil.rmtree(out)
    base = base_tables(sf)
    derived = derive(base, seed, replicas, files)
    check_invariants(base, derived, replicas)
    for name, parts in derived.items():
        d = out / f"{name}.parquet"
        d.mkdir(parents=True)
        for i, part in enumerate(parts):
            pq.write_table(part, d / f"part-{i:03d}.parquet")
    marker.write_text(json.dumps({
        "sf": sf, "seed": seed, "replicas": replicas, "files": files,
        "rows": {n: sum(p.num_rows for p in ps) for n, ps in derived.items()},
    }))
    return out
