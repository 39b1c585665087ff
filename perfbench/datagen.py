"""Seeded inputs for the benchmark.

``write_tables`` writes the ten query tables (TPC-H-shaped star schema plus
``events``, ``documents`` and ``embeddings``) with the column names, types and
value distributions of the repository's query testdata, at a chosen scale
factor. ``drop_plan`` describes the IceNet forecast drops
the ingest workload lands. The same seed always gives the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "shiny"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "screw", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(start: str, n_days: int, rng, size) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _money(rng, lo, hi, size) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), 2000
    pick = lambda vals, n, p=None: np.asarray(vals)[rng.choice(len(vals), n, p=p)]  # noqa: E731

    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pick(SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": np.char.add(
                    np.char.add(pick(PART_ADJ, n_part), " "), pick(PART_NOUN, n_part)
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": pick(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
                "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
                "o_orderstatus": pick(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days("1995-01-01", 2405, rng, n_ord),
                "o_orderpriority": pick(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
                "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
                "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": pick(["A", "N", "R"], n_li),
                "l_linestatus": pick(["F", "O"], n_li),
                "l_shipdate": _days("1995-01-02", 2499, rng, n_li),
            }
        ),
    }

    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        gaps * 1e6
    ).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, int(15_000 * sf), n_ev, dtype=np.int64),
            "event_type": pick(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"
            ),
        }
    )

    # 5% of documents are an earlier document's text plus a " dup" marker,
    # so exact and near duplicates both occur, as in the testdata corpus.
    texts = [
        " ".join(pick(WORDS, int(k))) for k in rng.integers(10, 101, n_doc)
    ]
    for i in np.flatnonzero(rng.uniform(size=n_doc) < 0.05):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": pick(LANGS, n_doc, LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    # unit vectors around ten label centres
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(0.0, 0.35, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write_tables(sf_dir: str, sf: float, seed: int) -> int:
    """Write every table as ``<sf_dir>/<name>.parquet``; returns total bytes."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in tables(sf, seed).items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total


def drop_plan(n: int, seed: int) -> list[dict]:
    """The first ``n`` drops of an ingest series. The second drop is an
    exact re-upload of the first under a new name; the others are fresh,
    alternate north/south, advance the generation date by one day from a
    seeded start and carry a seeded fixture seed."""
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01") + int(rng.integers(0, 300))
    plan: list[dict] = []
    fresh: list[dict] = []
    for k in range(n):
        name = f"drop{k:03d}"
        if k == 1:
            plan.append(dict(fresh[0], name=name, reupload=True))
            continue
        drop = {
            "name": name,
            "generated": str(start + len(fresh)),
            "hemisphere": ("north", "south")[len(fresh) % 2],
            "seed": int(rng.integers(0, 2**31 - 1)),
            "reupload": False,
        }
        plan.append(drop)
        fresh.append(drop)
    return plan
