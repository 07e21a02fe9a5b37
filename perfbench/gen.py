"""Seeded, vectorised generator of the engine's ten base tables.

Writes one parquet file per ``datagen.BASE_TABLES`` name, shaped like the
repository's test tiers (same column names and types, one row group per file as
pyarrow writes them), so ``datagen.register_base_tables`` and the DuckDB
oracle fragments read it unchanged.  Only ``documents`` and ``orders`` are
sized: they are the two tables the derived ``sequences``/``probes`` come
from.  The other eight are a few rows each.

Row counts depend only on ``n_docs``/``n_orders``, never on the seed: doc ids
and order keys are ``0..n-1``, and the sequence fan-out is a function of the
doc id.  The seed decides text, sources, customers and prices, and through
them token arrays, probe sources and probe timestamps.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "a the spark line column order small sort fast value scan hash slow group "
    "batch agg filter query big key window row part table stream merge data "
    "vector join customer sketch bucket probe state commit manifest footer "
    "shuffle stage task driver executor plan"
).split()
N_SOURCES = 20  # documents.source = src0..src19, as in the test tiers


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(8, 97, n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_words, out=offsets[1:])
    words = _pick(rng, VOCAB, int(offsets[-1]))
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")
    source = pc.binary_join_element_wise(
        "src", pc.cast(pa.array(rng.integers(0, N_SOURCES, n)), pa.string()), ""
    )
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": text,
        "lang": _pick(rng, ["en", "zh", "de", "fr"], n),
        "source": source,
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    })


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    day0 = np.datetime64("1992-01-01", "us")
    days = rng.integers(0, 3650, n).astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(day0 + days.astype("timedelta64[us]")),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        ),
    })


def _small_tables(rng: np.random.Generator, n_cust: int) -> dict[str, pa.Table]:
    """The eight tables no benchmarked path reads beyond registering them."""
    ts0 = np.datetime64("2024-01-01", "us")
    n_emb, dim = 16, 8
    emb = rng.standard_normal(n_emb * dim).astype(np.float32)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.0, 9999.0, n_cust), 2)),
            "c_mktsegment": _pick(rng, ["BUILDING", "MACHINERY", "AUTOMOBILE"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(10, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i}" for i in range(10)]),
            "s_nationkey": pa.array(rng.integers(0, 25, 10, dtype=np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.0, 9999.0, 10), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(20, dtype=np.int64)),
            "p_name": pa.array([f"part {i}" for i in range(20)]),
            "p_brand": _pick(rng, ["Brand#11", "Brand#22", "Brand#33"], 20),
            "p_type": _pick(rng, ["STANDARD", "SMALL", "LARGE"], 20),
            "p_size": pa.array(rng.integers(1, 51, 20, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(rng.uniform(900.0, 2000.0, 20), 2)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(np.arange(40, dtype=np.int64) // 4),
            "l_partkey": pa.array(rng.integers(0, 20, 40, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 10, 40, dtype=np.int64)),
            "l_linenumber": pa.array((np.arange(40) % 4 + 1).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, 40).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 90000.0, 40), 2)),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, 40), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, 40), 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], 40),
            "l_linestatus": _pick(rng, ["F", "O"], 40),
            "l_shipdate": pa.array(ts0 + rng.integers(0, 10**6, 40).astype("timedelta64[s]").astype("timedelta64[us]")),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(50, dtype=np.int64)),
            "ts": pa.array(ts0 + np.sort(rng.integers(0, 10**6, 50)).astype("timedelta64[s]").astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 10, 50, dtype=np.int64)),
            "event_type": _pick(rng, ["view", "click", "purchase"], 50),
            "value": pa.array(np.round(rng.uniform(0.0, 100.0, 50), 2)),
            "props": _pick(rng, ["{}", '{"k": 1}'], 50),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n_emb * dim + 1, dim, dtype=np.int32)),
                pa.array(emb),
            ),
            "label": pa.array(rng.integers(0, 2, n_emb, dtype=np.int32)),
        }),
    }


def write_base_tables(out_dir: str, *, seed: int, n_docs: int, n_orders: int) -> dict[str, int]:
    """Write all ten base tables as ``<out_dir>/<name>.parquet``; return row counts."""
    rng = np.random.default_rng(seed)
    n_cust = 100
    tables = {
        "documents": _documents(rng, n_docs),
        "orders": _orders(rng, n_orders, n_cust),
        **_small_tables(rng, n_cust),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def duck_views(duck, base_dir: str) -> None:
    """Register the ten base tables as DuckDB views (the oracle's input)."""
    from uncharted_ta1_spark.datagen import BASE_TABLES

    for name in BASE_TABLES:
        duck.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{base_dir}/{name}.parquet'")


def stage(duck, sql: str, path: str) -> int:
    """Write one derived table as a single-file, single-row-group parquet —
    the layout Spark itself writes for these derivations of a one-row-group
    source — and return its row count."""
    duck.sql(
        f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, COMPRESSION lz4, ROW_GROUP_SIZE 100000000)"
    )
    return duck.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]
