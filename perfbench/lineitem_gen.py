"""Seeded lineitem generator owned by the benchmark.

The table has the fixture's 11 columns and physical types, with
``l_shipdate`` as a naive microsecond timestamp, and value ranges shaped
like the fixture's lineitem table (TESTDATA.md): Q6's
1996 window and discount band and Q1's ship-date cut select realistic
shares of the rows.

The engine's own generator (``presto_truffle_spark/sources/generator.py``)
is deliberately not used: an engine change must not change the input.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)

_FIRST_DAY = np.datetime64("1995-01-02", "D").astype(np.int64)
_LAST_DAY = np.datetime64("2001-11-04", "D").astype(np.int64)
_US_PER_DAY = 86_400_000_000


def _chunk(rng: np.random.Generator, n: int, total: int) -> pa.Table:
    days = rng.integers(_FIRST_DAY, _LAST_DAY + 1, n)
    return pa.table(
        [
            pa.array(rng.integers(0, max(total // 4, 1), n)),
            pa.array(rng.integers(0, max(total // 30, 1), n)),
            pa.array(rng.integers(0, max(total // 600, 1), n)),
            pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            pa.array(rng.integers(1, 51, n).astype(np.float64)),
            pa.array(rng.integers(90_068, 10_500_000, n) / 100.0),
            pa.array(np.round(rng.uniform(0.0, 0.1, n), 2)),
            pa.array(rng.integers(0, 9, n) / 100.0),
            pa.DictionaryArray.from_arrays(
                rng.integers(0, 3, n, dtype=np.int8), pa.array(["A", "N", "R"])
            ).cast(pa.string()),
            pa.DictionaryArray.from_arrays(
                rng.integers(0, 2, n, dtype=np.int8), pa.array(["F", "O"])
            ).cast(pa.string()),
            pa.array(days * _US_PER_DAY, type=pa.timestamp("us")),
        ],
        schema=SCHEMA,
    )


def write_lineitem(out_dir: str, rows: int, seed: int, files: int, threads: int) -> str:
    """Write ``rows`` rows as ``files`` parquet files under
    ``out_dir/lineitem.parquet/`` and return that directory.

    Each file has its own random stream spawned from ``seed``, so the same
    ``(rows, seed, files)`` gives the same values whatever ``threads`` is."""
    path = os.path.join(out_dir, "lineitem.parquet")
    os.makedirs(path, exist_ok=True)
    per_file = -(-rows // files)

    def write(i: int, stream: np.random.SeedSequence) -> None:
        n = min(per_file, rows - i * per_file)
        table = _chunk(np.random.default_rng(stream), n, rows)
        pq.write_table(table, os.path.join(path, f"part-{i:04d}.parquet"))

    streams = np.random.SeedSequence(seed).spawn(files)
    with ThreadPoolExecutor(threads) as pool:
        for f in [pool.submit(write, i, s) for i, s in enumerate(streams)]:
            f.result()
    return path
