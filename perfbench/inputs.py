"""Seeded batch inputs.

Seed 0 is the sf0.01 fixture in ``fixture/`` as it is. Any other seed is
a seeded resample of it with the same schema: every row is kept once,
the surrogate keys (customer, order, user, document, vector) are
relabelled to new values drawn from a range far wider than the
fixture's, consistently across the tables that reference them, and the
rows of every table are shuffled. A key ``k`` becomes
``B(k div 100) * 100 + P(k mod 100)``: ``B`` draws a distinct block
number per block of 100 keys and ``P`` permutes the offsets within each
block. So the set of key values, and with it every gate's result,
changes with the seed, while which keys share a block stays as in the
fixture (the synthetic graph of ``doc_neardup_clusters`` links the
documents of a block, so its work stays the same). Sizes and value
distributions stay those of the fixture, so the work per gate stays
comparable across seeds. The DuckDB oracles run on the same files, so
they still judge every result.
"""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture")
CACHE = os.path.join(HERE, ".inputs")

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

BLOCK = 100
BLOCK_RANGE = 10_000_000  # new keys lie in [0, BLOCK * BLOCK_RANGE)

# key domain -> [(table, column), ...]; the first pair owns the values
RELABEL = {
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "user": [("events", "user_id")],
    "doc": [("documents", "doc_id")],
    "vec": [("embeddings", "vec_id")],
}


def inputs_dir(seed: int) -> str:
    """Directory holding one ``<table>.parquet`` per table for ``seed``."""
    if seed == 0:
        return FIXTURE
    out = os.path.join(CACHE, f"seed-{seed}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _resample(seed, tmp)
    os.replace(tmp, out)
    return out


def _resample(seed: int, out: str) -> None:
    rng = np.random.default_rng(seed)
    tables = {t: pq.read_table(os.path.join(FIXTURE, f"{t}.parquet")) for t in TABLES}
    for refs in RELABEL.values():
        owner, col = refs[0]
        keys = np.unique(tables[owner].column(col).to_numpy())
        image = _relabel(keys, rng)
        for table, column in refs:
            t = tables[table]
            old = t.column(column)
            idx = pc.index_in(old, value_set=pa.array(keys))
            if pc.any(pc.is_null(idx)).as_py():
                raise ValueError(f"{table}.{column} holds keys outside {owner}.{col}")
            new = pa.array(image[idx.to_numpy()], type=old.type)
            tables[table] = t.set_column(t.schema.get_field_index(column), column, new)
    for name, t in tables.items():
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def _relabel(keys: np.ndarray, rng) -> np.ndarray:
    """New labels for the sorted distinct ``keys``: a seeded distinct block
    number for each block of ``BLOCK`` keys, and a seeded permutation of
    the offsets within each block."""
    hi, lo = np.divmod(keys, BLOCK)
    blocks = np.unique(hi)
    new_hi = rng.choice(BLOCK_RANGE, len(blocks), replace=False)[np.searchsorted(blocks, hi)]
    # the keys of a block, in random order, take the block's offsets in ascending order
    new_lo = np.empty_like(lo)
    new_lo[np.lexsort((rng.random(len(keys)), hi))] = lo
    return new_hi * BLOCK + new_lo


def input_rows(sf_dir: str, oracle_sqls) -> int:
    """Rows of the input tables the gates read (named in their oracles),
    summed over the gates: the input of one pass."""
    rows = {t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows for t in TABLES}
    return sum(
        rows[t] for sql in oracle_sqls for t in TABLES if re.search(rf"\b{t}\b", sql, re.IGNORECASE)
    )


def truncated(sf_dir: str, out: str, table: str, n: int) -> str:
    """A copy of the inputs in ``out`` with only the first ``n`` rows of ``table``."""
    os.makedirs(out)
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t == table:
            pq.write_table(pq.read_table(src).slice(0, n), dst)
        else:
            shutil.copyfile(src, dst)
    return out
