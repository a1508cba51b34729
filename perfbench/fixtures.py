"""Seeded benchmark inputs, written as parquet before any clock starts.

Every table is a pure function of (seed, size): the same seed writes the
same rows in the same order. Only numpy, pyarrow and the package's own row
functions (`osm2mp_spark.sources.images`) are used — no Spark — so writing
the inputs never warms the engine that is about to be timed.

Tables:
- geo:     `customer(c_custkey)` and `lineitem(l_orderkey, l_partkey,
           l_suppkey, l_linenumber)` in the TPC-H-like shape the registry's
           spatial queries read (keys uniform over the same ranges as the
           repository's sf tiers), rows in a seed-permuted order.
- images:  the image-flagship table `(image_id, bytes, w, h, fmt, caption,
           phash, lon, lat)` from `image_row` over a seed-chosen id range.
- landing: the dedup corpus (`phash_corpus_row`: originals plus a planted
           near-duplicate of every 7th) over a seed-chosen id range, split
           into equal parquet files, one per streaming trigger.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor, as in the repository's sf tiers
CUSTOMERS_PER_SF = 150_000
LINEITEMS_PER_SF = 6_000_000
ORDERS_PER_SF = 1_500_000
PARTS_PER_SF = 200_000
SUPPLIERS_PER_SF = 10_000
DUP_EVERY = 7
ROWS_PER_FILE = 500

IMAGES_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()),
    ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
    ("caption", pa.string()), ("phash", pa.int64()),
    ("lon", pa.float64()), ("lat", pa.float64()),
])
CORPUS_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()),
    ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
    ("caption", pa.string()),
])


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def id_base(seed: int) -> int:
    """Seed-chosen start of a contiguous image id range."""
    return int(_rng(seed, 1).integers(0, 1_000_000)) * 10


def write_geo_tables(out_dir: str, seed: int, sf: float) -> dict:
    """customer + lineitem at scale `sf`; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(CUSTOMERS_PER_SF * sf)
    rng = _rng(seed, 2)
    cust = rng.permutation(n_cust).astype(np.int64)
    pq.write_table(pa.table({"c_custkey": cust}),
                   os.path.join(out_dir, "customer.parquet"))

    n_li = int(LINEITEMS_PER_SF * sf)
    ok = rng.integers(0, max(1, int(ORDERS_PER_SF * sf)), n_li)
    pk = rng.integers(0, max(1, int(PARTS_PER_SF * sf)), n_li)
    sk = rng.integers(0, max(1, int(SUPPLIERS_PER_SF * sf)), n_li)
    ln = rng.integers(1, 8, n_li)
    # a chain's vertex order key packs (linenumber, partkey, suppkey), so
    # it must be unique within each order: drop the (rare) repeats
    key = np.stack([ok, ln, pk, sk], axis=1)
    _, first = np.unique(key, axis=0, return_index=True)
    keep = np.sort(first)
    order = rng.permutation(len(keep))
    li = pa.table({
        "l_orderkey": ok[keep][order].astype(np.int64),
        "l_partkey": pk[keep][order].astype(np.int64),
        "l_suppkey": sk[keep][order].astype(np.int64),
        "l_linenumber": ln[keep][order].astype(np.int32),
    })
    pq.write_table(li, os.path.join(out_dir, "lineitem.parquet"))
    return {"customer": n_cust, "lineitem": li.num_rows}


def write_customer_count(out_dir: str, n: int) -> None:
    """A `customer` table of n rows: the registry's image queries size their
    synthesized corpus from its row count."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({"c_custkey": np.arange(n, dtype=np.int64)}),
                   os.path.join(out_dir, "customer.parquet"))


def write_images_table(path: str, seed: int, n: int) -> None:
    """The image-flagship input table over ids [base, base + n)."""
    from osm2mp_spark.sources.images import image_row

    os.makedirs(path, exist_ok=True)
    base = id_base(seed)
    for f, start in enumerate(range(0, n, ROWS_PER_FILE)):
        rows = [image_row(base + i)
                for i in range(start, min(n, start + ROWS_PER_FILE))]
        pq.write_table(pa.Table.from_pylist(rows, schema=IMAGES_SCHEMA),
                       os.path.join(path, f"part-{f:05d}.parquet"))


def corpus_rows(seed: int, n_originals: int) -> list[dict]:
    """Dedup corpus over a seed-chosen range of original ids."""
    from osm2mp_spark.sources.images import phash_corpus_row

    base = id_base(seed)
    rows = []
    for i in range(base, base + n_originals):
        rows.append(phash_corpus_row(i, dup=False))
        if i % DUP_EVERY == 0:
            rows.append(phash_corpus_row(i, dup=True))
    return rows


def stage_landing_files(staging: str, seed: int, n_files: int,
                        originals_per_file: int) -> list[str]:
    """Equal corpus slices as parquet files in `staging`, in landing order
    (the stream takes one file per trigger, oldest first)."""
    os.makedirs(staging, exist_ok=True)
    rows = corpus_rows(seed, n_files * originals_per_file)
    per = -(-len(rows) // n_files)
    paths = []
    for f in range(n_files):
        p = os.path.join(staging, f"land-{f:04d}.parquet")
        chunk = rows[f * per:(f + 1) * per]
        pq.write_table(pa.Table.from_pylist(chunk, schema=CORPUS_SCHEMA), p)
        paths.append(p)
    return paths
