"""Seeded benchmark inputs.

Every table a workload reads is generated here from ``--seed``, in the
shape of the repository's synthetic testdata (TESTDATA.md, FIXTURES.md
section B): same column names, physical types, value domains and
distributions, and the same row counts at the same scale factor ``sf``.
The figures below were measured from the testdata's sf0.001, sf0.01 and
sf0.1 tables with ``perfbench/testdata_profile.py``, which prints the testdata
and the generated tables side by side. The program under test only ever
receives the directory written here.

The same ``(sf, seed, tables)`` always yields byte-identical parquet
files, and the same ``(workload, seed)`` the same operation sequence.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor (region and nation are fixed-size); every
# key column is 0..rows-1 and every foreign key uniform over its table
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "documents": 50_000,
}
# the testdata's documents table has 500 rows at sf0.001 and at sf0.01,
# 5,000 at sf0.1
ROWS_MIN = {"documents": 500}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
# the corpus: words drawn uniformly from these 30, 10 to 99 words a
# document (uniform); 5% of the rows are replaced by another row's text
# plus " dup", so exact copies only arise when two such rows copy the
# same text; languages 40% en and 15% each of the other four; the source
# is src0..src19 by doc_id
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DOC_WORDS = (10, 99)
NEAR_DUP_SHARE = 0.05
SOURCES = 20

_EPOCH = dt.datetime(1970, 1, 1)


def _rows(name: str, sf: float) -> int:
    return max(ROWS_MIN.get(name, 1), round(ROWS_PER_SF[name] * sf))


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    """Uniform midnight timestamps in [lo, hi], as datetime64[us]."""
    start = (dt.datetime.combine(lo, dt.time()) - _EPOCH).days
    span = (hi - lo).days + 1
    days = start + rng.integers(0, span, n)
    return days.astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
    vocab = np.asarray(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # near-duplicates, made in row order from the texts as they stand
    for i in np.sort(rng.choice(n, round(NEAR_DUP_SHARE * n), replace=False)):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _table(name: str, sf: float, rng) -> dict:
    if name == "region":
        return {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": list(REGIONS),
        }
    if name == "nation":
        keys = np.arange(25, dtype=np.int32)
        return {
            "n_nationkey": keys,
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": keys % 5,
        }
    n = _rows(name, sf)
    keys = np.arange(n, dtype=np.int64)
    if name == "customer":
        return {
            "c_custkey": keys,
            "c_name": _names("Customer", keys),
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    if name == "supplier":
        return {
            "s_suppkey": keys,
            "s_name": _names("Supplier", keys),
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    if name == "part":
        return {
            "p_partkey": keys,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(_pick(rng, PART_ADJ, n), _pick(rng, PART_NOUN, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            # 900.0, 900.1, ..., 999.9 by key, as in the testdata
            "p_retailprice": 900.0 + (keys % 1000) / 10,
        }
    if name == "orders":
        return {
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, _rows("customer", sf), n),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    if name == "lineitem":
        return {
            "l_orderkey": rng.integers(0, _rows("orders", sf), n),
            "l_partkey": rng.integers(0, _rows("part", sf), n),
            "l_suppkey": rng.integers(0, _rows("supplier", sf), n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": _money(rng, 0.0, 0.1, n),
            "l_tax": _money(rng, 0.0, 0.08, n),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n),
            "l_linestatus": _pick(rng, ("F", "O"), n),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
        }
    if name == "documents":
        return _documents(rng, n)
    raise ValueError(f"no generator for table {name!r}")


def generate(out_dir: str, sf: float, seed: int, tables: tuple[str, ...]) -> str:
    """Write each table of ``tables`` as ``out_dir/<name>.parquet``.

    Each table draws from its own stream derived from ``(seed, name)``,
    so adding a table to a workload leaves the others unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        pq.write_table(
            pa.table(_table(name, sf, rng)),
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
        )
    return out_dir
