"""Seeded input generators for the benchmark.

The registry queries read a directory of parquet tables shaped like the
engine's TPC-H-style test data (``region`` ... ``lineitem``, ``events``,
``documents``, ``embeddings``); the user path reads an uploaded CSV with the
columns of FIXTURES.md table F1. Both are generated here from a seed, so the
same seed always gives byte-identical inputs and the benchmark needs no data
from outside its checkout.

Row counts follow the test data's scale factors: at ``sf=0.1`` there are
600k lineitem rows, 150k orders, 100k events, 5k documents and 2k
embeddings. Value domains and skews (date ranges, 30-word document
vocabulary with 5% planted near-duplicates, unit-norm 64-d embeddings in
10 labelled clusters) mirror the test data, so every query keeps its
selectivity and every dedup/similarity query finds work to do.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["bolt", "gear", "plate", "ring", "widget", "screw", "nut", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
EMB_LABELS = 10

F1_COLUMNS = [
    "id", "age", "income", "segment", "referral_code",
    "signup_date", "notes", "ghost", "churn",
]

_DAY = np.timedelta64(1, "D")


def _rows(base: int, sf: float, floor: int) -> int:
    return max(floor, int(round(base * sf)))


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    # one row group per file, as the engine's test data is written
    pq.write_table(table, path, row_group_size=max(1, len(df)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, int((hi - lo) / _DAY) + 1, n)
    return (lo + days * _DAY).astype("datetime64[us]")


def relational_tables(rng, sf: float) -> dict[str, tuple[pd.DataFrame, pa.Schema]]:
    n_cust = _rows(150_000, sf, 150)
    n_supp = _rows(10_000, sf, 10)
    n_part = _rows(200_000, sf, 200)
    n_ord = _rows(1_500_000, sf, 1_500)
    n_ev = _rows(1_000_000, sf, 1_000)
    n_users = _rows(15_000, sf, 15)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out = {}
    out["region"] = (
        pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = (
        pd.DataFrame(
            {"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk], "n_regionkey": nk % 5}
        ),
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = (
        pd.DataFrame(
            {
                "c_custkey": ck,
                "c_name": [f"Customer#{k:09d}" for k in ck],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        pa.schema(
            [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
             ("c_acctbal", f64), ("c_mktsegment", s)]
        ),
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = (
        pd.DataFrame(
            {
                "s_suppkey": sk,
                "s_name": [f"Supplier#{k:09d}" for k in sk],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]),
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = (
        pd.DataFrame(
            {
                "p_partkey": pk,
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": 900.0 + (pk % 1000) / 10.0,
            }
        ),
        pa.schema(
            [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
             ("p_size", i32), ("p_retailprice", f64)]
        ),
    )
    ok = np.arange(n_ord, dtype=np.int64)
    odate = _dates(rng, "1995-01-01", "2001-08-01", n_ord)
    out["orders"] = (
        pd.DataFrame(
            {
                "o_orderkey": ok,
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord, p=[0.49, 0.49, 0.02]),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": odate,
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        pa.schema(
            [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
             ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]
        ),
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(ok, lines)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = (
        pd.DataFrame(
            {
                "l_orderkey": l_order,
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": l_num,
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li, p=[0.25, 0.5, 0.25]),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY,
            }
        ),
        pa.schema(
            [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
             ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
             ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
             ("l_linestatus", s), ("l_shipdate", ts)]
        ),
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    out["events"] = (
        pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": t0 + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]"),
                "user_id": rng.integers(0, n_users, n_ev),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        pa.schema(
            [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
             ("value", f64), ("props", s)]
        ),
    )
    return out


def corpus_tables(rng, sf: float) -> dict[str, tuple[pd.DataFrame, pa.Schema]]:
    n_doc = _rows(50_000, sf, 500)
    n_emb = _rows(20_000, sf, 500)
    vocab = np.array(VOCAB)
    texts = []
    for n_words in rng.integers(10, 101, n_doc):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))
    # 5% planted near-duplicates: an earlier document plus one marker word
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    doc_id = np.arange(n_doc, dtype=np.int64)
    out = {
        "documents": (
            pd.DataFrame(
                {
                    "doc_id": doc_id,
                    "text": texts,
                    "lang": rng.choice(LANGS, n_doc, p=LANG_P),
                    "source": [f"src{k % 20}" for k in doc_id],
                    "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
                }
            ),
            pa.schema(
                [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                 ("source", pa.string()), ("n_chars", pa.int64())]
            ),
        )
    }
    centers = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    label = rng.integers(0, EMB_LABELS, n_emb)
    vec = rng.normal(0.0, 1.0, (n_emb, EMB_DIM)) + 0.6 * centers[label]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = (
        pd.DataFrame(
            {"vec_id": np.arange(n_emb, dtype=np.int64), "embedding": list(vec),
             "label": label.astype(np.int32)}
        ),
        pa.schema(
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
             ("label", pa.int32())]
        ),
    )
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    tables = relational_tables(rng, sf)
    tables.update(corpus_tables(np.random.default_rng([seed, 2]), sf))
    for name, (df, schema) in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"), schema)
    return out_dir


def f1_frame(seed: int, n_rows: int) -> pd.DataFrame:
    """FIXTURES.md F1 ``mixed_clf``: every cleaning branch in one table."""
    rng = np.random.default_rng([seed, 3])
    age = rng.normal(45.0, 15.0, n_rows)
    age[rng.integers(0, n_rows, max(1, n_rows // 500))] = 45.0 + 90.0  # +6 sigma
    age[rng.integers(0, n_rows, max(1, n_rows // 500))] = 45.0 - 90.0  # -6 sigma
    age[rng.random(n_rows) < 0.08] = np.nan
    income = rng.lognormal(10.5, 0.8, n_rows)
    income[rng.random(n_rows) < 0.03] = np.nan
    segment = rng.choice(["basic", "gold", "platinum", "silver"], n_rows).astype(object)
    segment[rng.random(n_rows) < 0.05] = None
    referral = [f"REF{k:07d}" for k in rng.integers(0, 10 * n_rows, n_rows)]
    signup = _dates(rng, "2019-01-01", "2024-06-30", n_rows) + rng.integers(
        0, 86_400, n_rows
    ).astype("timedelta64[s]")
    notes = [
        f"call-back {k}" if k % 3 else f"2023-0{1 + k % 9}-1{k % 10}"
        for k in rng.integers(0, 1000, n_rows)
    ]
    return pd.DataFrame(
        {
            "id": np.arange(1, n_rows + 1, dtype=np.int64),
            "age": age,
            "income": income,
            "segment": segment,
            "referral_code": referral,
            "signup_date": pd.to_datetime(signup).strftime("%Y-%m-%d %H:%M:%S"),
            "notes": notes,
            "ghost": np.full(n_rows, np.nan),
            "churn": rng.choice(["no", "yes"], n_rows, p=[0.85, 0.15]),
        }
    )[F1_COLUMNS]


def write_f1_csv(path: str, seed: int, n_rows: int) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    f1_frame(seed, n_rows).to_csv(path, index=False)
    return path
