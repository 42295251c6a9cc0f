"""Seeded input tables for the iterative_chains workload.

Writes lineitem, part and embeddings as one Parquet file each, with the
column names and Parquet types of the repository's test fixtures
(FIXTURES.md) and the shape that sets how far the driver loops iterate:

- lineitem: 30 lines per part, each line in a uniformly random order and of
  a uniformly random part, as in the fixtures, so an order holds a
  Poisson(4) number of lines and a part about 120 co-occurring parts. At
  4,000 parts the 80-core peel of graph_kcore runs 4 to 8 rounds (5 on
  most seeds), as it runs 5 on the sf0.1 fixture; at the 200 parts of
  sf0.001 every part falls within 3.
- embeddings: 2,000 unit-length Gaussian 64-dimensional vectors, the size
  and distribution of the sf0.1 fixture, so the cos >= 0.4 pair graph of
  llm_dedup_semantic has about 900 edges and components of up to about 75
  documents for its label propagation to join.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write(out_dir, seed):
    rng = np.random.default_rng(seed)
    n_part, n_vecs = 4000, 500
    n_orders, n = n_part * 15 // 2, n_part * 30

    pq.write_table(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{rng.choice(['cold', 'small', 'large'])} "
                   f"{rng.choice(['widget', 'bolt', 'gear'])}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                   "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + np.arange(n_part) / 10.0, pa.float64()),
    }), f"{out_dir}/part.parquet")

    orderkey = np.sort(rng.integers(0, n_orders, n))
    days = rng.integers(0, 2500, n)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float), pa.float64()),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": list(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array((np.datetime64("1995-01-02") + days.astype("timedelta64[D]"))
                               .astype("datetime64[us]"), pa.timestamp("us")),
    }), f"{out_dir}/lineitem.parquet")

    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")
