"""Seeded fixture generator: the ten catalog tables the registered ops read.

Shapes and value domains follow the engine's fixture contract (one parquet
file per table, TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``).  Columns are drawn independently, as in the contract's
fixtures, so join selectivities and group cardinalities stay close to what
the ops were sized for.  The same ``(seed, sf)`` always writes the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The contract fixtures' 30 words plus 70 made-up ones.  With 30 words alone,
# random documents share enough 3-word shingles that the LSH candidate graph
# forms components of hundreds of documents whose diameter varies with the
# seed: connected components then needs 9 to 28 rounds, past its limit of
# 20 on some seeds.  At 100 words the components are the planted
# near-duplicate clusters and converge in 2 or 3 rounds.
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split() + [a + b + c for a in "bdklmr" for b in "aeiou" for c in ("n", "s", "t")][:70]
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
_P_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
_P_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "pipe")
_P_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# Timestamps are written as parquet TIMESTAMP(NANOS), as in the contract's
# fixtures: the engine reads them as nano longs and its catalog rebuilds
# the columns (sources/catalog.py · TS_COLS) whenever an op registers the
# catalog's views, so the benchmark runs that path.
_DAY_NS = 86_400 * 1_000_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "ns").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "ns").astype(np.int64)
_TS = pa.timestamp("ns")
EMBED_DIM = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options, n, p=None):
    return np.asarray(list(options), dtype=object)[rng.choice(len(options), n, p=p)]


def _days(rng, first_day, n_days, n):
    return pa.array(
        _EPOCH_1995 + (first_day + rng.integers(0, n_days, n)) * _DAY_NS, _TS
    )


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    texts = [" ".join(_pick(rng, _VOCAB, k)) for k in lens]
    # 5% near-duplicates: a copy of an original document plus one marker
    # token, so the minhash / connected-component chain has real clusters
    # to find.  Copies are never copied again: clusters stay stars, as in
    # the contract's fixtures (chains of copies would stretch the
    # components past the CC loop's round limit).
    dups = rng.choice(n, n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, j in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, _LANGS, n, _LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n):
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every catalog table for one ``(seed, sf)``."""
    rng = np.random.default_rng([seed, int(round(sf * 1000))])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    ids = lambda n: pa.array(np.arange(n), pa.int64())  # noqa: E731
    ints = lambda a: pa.array(a, pa.int32())  # noqa: E731
    out = {
        "region": pa.table(
            {"r_regionkey": ints(np.arange(5)), "r_name": list(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": ints(np.arange(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": ints(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": ids(n_cust),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": ints(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pa.array(_pick(rng, _SEGMENTS, n_cust), pa.string()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": ids(n_supp),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": ints(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": ids(n_part),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            _pick(rng, _P_ADJ, n_part), _pick(rng, _P_NOUN, n_part)
                        )
                    ],
                    pa.string(),
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
                ),
                "p_type": pa.array(_pick(rng, _P_TYPES, n_part), pa.string()),
                "p_size": ints(rng.integers(1, 51, n_part)),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": ids(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(_pick(rng, "OFP", n_ord), pa.string()),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, 0, 2404, n_ord),
                "o_orderpriority": pa.array(_pick(rng, _PRIORITIES, n_ord), pa.string()),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": ints(rng.integers(1, 8, n_li)),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": pa.array(_pick(rng, "ANR", n_li), pa.string()),
                "l_linestatus": pa.array(_pick(rng, "OF", n_li), pa.string()),
                "l_shipdate": _days(rng, 1, 2498, n_li),
            }
        ),
        "events": pa.table(
            {
                "event_id": ids(n_ev),
                # 30 days, with sub-microsecond digits as in the fixtures.
                "ts": pa.array(
                    _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_NS, n_ev)), _TS
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
                "event_type": pa.array(_pick(rng, _EVENT_TYPES, n_ev), pa.string()),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    return out


def write(seed: int, sf: float, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<table>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
