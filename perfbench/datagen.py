"""Seeded input generator for the benchmark.

Writes the engine's ten parquet tables (the TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``) into one directory, with
the same schemas and value distributions as the engine's test data at
scale factor 0.01, and builds the happiness-shaped message log that the
streaming workload drains. The same seed always gives byte-identical
inputs; the engine only ever sees the generated files.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the engine's scale-factor-0.01 test tables.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "a the data spark stream batch table row column key value hash join "
    "merge sort filter scan group agg order line part customer query "
    "window vector fast slow big small"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_ORDER_START = dt.datetime(1995, 1, 1)
_EVENT_START = dt.datetime(2024, 1, 1)


def _days(rng, n, start, span_days):
    days = rng.integers(0, span_days, n)
    return pa.array(
        [start + dt.timedelta(days=int(d)) for d in days], pa.timestamp("us")
    )


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng) -> dict[str, pa.Table]:
    n = ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, np_), rng.choice(PART_NOUN, np_))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_).tolist(),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) * 0.1, 2) for i in range(np_)],
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(rng, no, _ORDER_START, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["O", "F"], nl).tolist(),
        "l_shipdate": _days(rng, nl, _ORDER_START + dt.timedelta(days=1), 2498),
    })
    ne = n["events"]
    gaps_us = rng.integers(0, 520_000_000, ne)
    gaps_us[0] = rng.integers(0, 60_000_000)
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(
            [_EVENT_START + dt.timedelta(microseconds=int(u)) for u in np.cumsum(gaps_us)],
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random-vocabulary texts; ~5% are an earlier document plus a
    trailing ``dup`` token, so the near-duplicate operators find work."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit-norm float32 vectors with a weak per-label direction."""
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    v = rng.normal(0.0, 1.0, (n, dim)) + 0.15 * centers[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(seed: int, out_dir: str) -> None:
    """One parquet file per table, ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in _tables(rng).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Streaming message log
# ---------------------------------------------------------------------------


def fixture_rows(fixture_dir: str) -> list[dict]:
    """Clean canonical rows (Country, Year, features, score) read with
    the stdlib from the five yearly happiness CSVs."""
    from workshop3_etl_spark.schema import MODEL_COLS, YEAR_ALIASES

    out = []
    for year, aliases in sorted(YEAR_ALIASES.items()):
        src_of = {dst: src for src, dst in aliases.items()}
        with open(os.path.join(fixture_dir, f"{year}.csv"), newline="") as fh:
            for rec in csv.DictReader(fh):
                row = {"Country": rec[src_of["Country"]], "Year": year}
                try:
                    for col in MODEL_COLS:
                        row[col] = float(rec[src_of[col]])
                except ValueError:
                    continue  # the N/A corruption value: dropped, as in clean()
                out.append(row)
    return out


def write_message_log(
    seed: int, fixture_dir: str, out_dir: str, n_messages: int,
    n_keys: int, n_files: int,
) -> int:
    """Write ``n_messages`` JSON messages (the Kafka topic stand-in) as
    ``n_files`` text files, one micro-batch each. Messages draw from
    ``n_keys`` distinct (Country, Year, is_train, is_test) keys, every
    key at least once, so later messages of a key take the UPDATE path.
    Returns the number of distinct keys written."""
    from workshop3_etl_spark.schema import MODEL_COLS

    rng = np.random.default_rng(seed + 7919)
    base = fixture_rows(fixture_dir)
    keys = []
    for k in range(n_keys):
        src = base[k % len(base)]
        train = int(rng.random() < 0.7)
        keys.append((f"{src['Country']}#{k // len(base)}", src["Year"], train, src))
    picks = np.concatenate([
        rng.permutation(n_keys), rng.integers(0, n_keys, n_messages - n_keys)
    ])
    noise = rng.normal(1.0, 0.02, (n_messages, len(MODEL_COLS)))
    os.makedirs(out_dir, exist_ok=True)
    per_file = -(-n_messages // n_files)
    for f in range(n_files):
        lines = []
        for m in range(f * per_file, min(n_messages, (f + 1) * per_file)):
            country, year, train, src = keys[picks[m]]
            msg = {"Country": country, "Year": year}
            for j, col in enumerate(MODEL_COLS):
                msg[col] = round(src[col] * float(noise[m, j]), 6)
            msg["is_train"], msg["is_test"] = train, 1 - train
            lines.append(json.dumps(msg))
        with open(os.path.join(out_dir, f"part-{f:03d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return n_keys
