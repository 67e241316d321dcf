"""Deterministic benchmark inputs.

Writes the ten tables the operators read (the FIXTURES.md schemas, one
single-row-group parquet file each) plus, on request, a lineitem-shaped
ETL input stored as ONE file with many row groups, so its scan splits
into several tasks.  Every value is drawn from ``numpy`` generators
seeded by ``--seed``; the same seed and sizes give byte-identical
tables.

    python3 perfbench/gen.py --seed 7 --out DIR [--etl-rows 600000]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
P_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
P_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_stamps(rng, start: dt.datetime, end: dt.datetime, n: int) -> pa.Array:
    days = (end - start).days
    us = _us(start) + rng.integers(0, days + 1, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _strings(choices, idx) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[idx], pa.string())


def lineitem_table(rng, n: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _strings(["A", "N", "R"], rng.integers(0, 3, n)),
            "l_linestatus": _strings(["F", "O"], rng.integers(0, 2, n)),
            "l_shipdate": _day_stamps(
                rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n
            ),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:  # near duplicate: one word swapped, marked
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words[:-1] if words[-1] == "dup" else words) + " dup")
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _strings(LANGS, rng.choice(len(LANGS), n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 0.1, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 0.11, (n, dim))
    for i in range(10, n):  # ~5% near-duplicate vectors
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.003, dim)
            labels[i] = labels[j]
    vecs = vecs.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * dim, dim), pa.int32()),
        pa.array(vecs.reshape(-1), pa.float32()),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(seed: int, sf: float, n_docs: int, n_emb: int) -> dict[str, pa.Table]:
    """The ten operator input tables at scale factor ``sf``."""
    rngs = [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(10)]
    n_supp, n_cust = max(10, int(10_000 * sf)), max(150, int(150_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_line, n_ev = max(6000, int(6_000_000 * sf)), max(1000, int(1_000_000 * sf))
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    r = rngs[0]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
        }
    )
    r = rngs[1]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _strings(SEGMENTS, r.integers(0, 5, n_cust)),
        }
    )
    r = rngs[2]
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _strings(names, r.integers(0, len(names), n_part)),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in r.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": _strings(P_TYPES, r.integers(0, 6, n_part)),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        }
    )
    r = rngs[3]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _strings(["F", "O", "P"], r.integers(0, 3, n_ord)),
            "o_totalprice": pa.array(_money(r, 1000, 500000, n_ord)),
            "o_orderdate": _day_stamps(
                r, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord
            ),
            "o_orderpriority": _strings(PRIORITIES, r.integers(0, 5, n_ord)),
        }
    )
    out["lineitem"] = lineitem_table(rngs[4], n_line, n_ord, n_part, n_supp)
    r = rngs[5]
    month_us = 30 * 86_400_000_000
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                _us(dt.datetime(2024, 1, 1)) + np.sort(r.integers(0, month_us, n_ev)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(r.integers(0, max(10, n_cust // 10), n_ev), pa.int64()),
            "event_type": _strings(EVENT_TYPES, r.integers(0, 5, n_ev)),
            "value": pa.array(np.round(r.gamma(1.5, 40.0, n_ev), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)], pa.string()
            ),
        }
    )
    out["documents"] = _documents(rngs[6], n_docs)
    out["embeddings"] = _embeddings(rngs[7], n_emb)
    return out


# sf0.01-shaped tables: the operators' costs at this size are dominated
# by job dispatch, planning and kernels, which is what the workloads
# measure, and a run stays within its time budget.
SF, DOCS, EMBEDDINGS = 0.01, 500, 500


def write(seed: int, out_dir: str, etl_rows: int) -> dict:
    """Write all inputs under ``out_dir``; return their sizes in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes: dict[str, int] = {}
    for name, tbl in tables(seed, SF, DOCS, EMBEDDINGS).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
        sizes[name] = os.path.getsize(path)
    if etl_rows:
        rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
        tbl = lineitem_table(rng, etl_rows, 1_500_000, 200_000, 10_000)
        os.makedirs(os.path.join(out_dir, "etl_input"), exist_ok=True)
        path = os.path.join(out_dir, "etl_input", "part-00000.parquet")
        pq.write_table(tbl, path, row_group_size=max(1, etl_rows // 24))
        sizes["etl_input"] = os.path.getsize(path)
    return sizes


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--etl-rows", type=int, default=0)
    a = ap.parse_args()
    t0 = time.perf_counter()
    sizes = write(a.seed, a.out, a.etl_rows)
    print(json.dumps({"seconds": time.perf_counter() - t0, "bytes": sizes}))


if __name__ == "__main__":
    main()
