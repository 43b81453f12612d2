"""Seeded input generators for the benchmark workloads.

Every table is a pure function of the benchmark seed and is written as
parquet with pyarrow, so the program under test only ever sees files.
Shapes follow the repository's synthetic ``sf0.1`` test tables (a
TPC-H-like star schema plus ``documents``, ``embeddings`` and ``events``);
row counts are stated as a multiple of ``sf0.1``.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 30-word vocabulary of the sf0.1 documents table
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# row counts at sf0.1; the corpus-query inputs are SF0_1_MULTIPLE of these
SF0_1_ROWS = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
SF0_1_MULTIPLE = 0.1
FIXED_ROWS = ("region", "nation")


def query_rows() -> dict[str, int]:
    """Row count of every corpus-query input table."""
    return {
        name: n if name in FIXED_ROWS else int(n * SF0_1_MULTIPLE)
        for name, n in SF0_1_ROWS.items()
    }


def _text(rng: np.random.Generator, n_tokens: int) -> str:
    return " ".join(VOCAB[rng.integers(0, len(VOCAB), n_tokens)])


def _doc_table(ids, texts, rng: np.random.Generator) -> pa.Table:
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def documents(rng: np.random.Generator, n: int, dup_frac: float = 0.05) -> pa.Table:
    """Random 10-100 token documents; ``dup_frac`` of them are copies of an
    earlier document with `` dup`` appended (the sf0.1 near-dup shape)."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < dup_frac:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    return _doc_table(list(range(n)), texts, rng)


def embeddings(rng: np.random.Generator, n: int, dim: int = 64,
               n_labels: int = 10) -> pa.Table:
    """Unit-norm vectors around ``n_labels`` random directions."""
    centers = rng.standard_normal((n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    v = centers[labels] + 1.5 * rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _ts(rng: np.random.Generator, n: int, lo: str, hi: str):
    a = np.datetime64(datetime.fromisoformat(lo), "us").astype(np.int64)
    b = np.datetime64(datetime.fromisoformat(hi), "us").astype(np.int64)
    return pa.array(rng.integers(a, b, n), pa.timestamp("us"))


def events(rng: np.random.Generator, n: int, n_users: int = 2_000) -> pa.Table:
    types = np.array(["view", "click", "purchase", "signup", "error"])
    ts = np.sort(_ts(rng, n, "2024-01-01", "2024-03-01").to_numpy())
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(types[rng.integers(0, len(types), n)].tolist()),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def star_schema(rng: np.random.Generator, rows: dict[str, int]) -> dict[str, pa.Table]:
    """TPC-H-like region/nation/customer/supplier/part/orders/lineitem."""
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li = rows["orders"], rows["lineitem"]
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust).tolist(),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }),
    }
    adjectives = np.array(["large", "hot", "blue", "old", "cold", "small",
                           "red", "shiny"])
    nouns = np.array(["ring", "bolt", "plate", "gear", "screw", "nut",
                      "spring", "valve"])
    names = [f"{a} {b}" for a, b in zip(adjectives[rng.integers(0, 8, n_part)],
                                        nouns[rng.integers(0, 8, n_part)])]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, n_ord), 2),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist(),
    })
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    day = np.timedelta64(1, "D")
    shipdate = (np.datetime64("1995-01-02") + rng.integers(0, 2498, n_li) * day)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_li)), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.5, 2.5, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(shipdate.astype("datetime64[us]"), pa.timestamp("us")),
    })
    return out


def write_query_inputs(seed: int, data_dir: str) -> dict[str, int]:
    """Write every corpus-query input table under ``data_dir``; returns the
    row count of each."""
    rng = np.random.default_rng([seed, 1])
    rows = query_rows()
    tables = star_schema(rng, rows)
    tables["documents"] = documents(rng, rows["documents"])
    tables["embeddings"] = embeddings(rng, rows["embeddings"])
    tables["events"] = events(rng, rows["events"])
    os.makedirs(data_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---- incremental-ingest corpus ----------------------------------------------

INGEST_BASE_DOCS = 400
INGEST_BATCH_DOCS = 25
INGEST_TEMPLATES = 4         # boilerplate templates, each a growing cluster
INGEST_TEMPLATE_BASE = 20    # copies of each template in the base corpus
INGEST_TEMPLATE_BATCH = 2    # copies of each template in every batch


def ingest_corpus(seed: int, n_batches: int) -> tuple[pa.Table, list[pa.Table]]:
    """A base corpus and ``n_batches`` fixed-size batches of new documents.

    Every batch carries fresh copies of a few boilerplate templates (one
    token substituted per copy), so each ingest touches the same large
    clusters and rewrites their label rows -- the feed shape that grows
    the delta logs and triggers compaction.  The rest of a batch is new
    random text with the sf0.1 near-dup rate.
    """
    rng = np.random.default_rng([seed, 2])
    templates = [_text(rng, 60).split() for _ in range(INGEST_TEMPLATES)]

    def template_copy(t: int) -> str:
        toks = list(templates[t])
        toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        return " ".join(toks)

    texts: list[str] = []

    def add_docs(n: int, per_template: int) -> tuple[int, int]:
        start = len(texts)
        # template index per slot, -1 for a document of new text
        slots = [t for t in range(INGEST_TEMPLATES) for _ in range(per_template)]
        slots += [-1] * (n - len(slots))
        for t in rng.permutation(slots):
            if t >= 0:
                texts.append(template_copy(int(t)))
            elif texts and rng.random() < 0.05:
                texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
            else:
                texts.append(_text(rng, int(rng.integers(10, 101))))
        return start, len(texts)

    spans = [add_docs(INGEST_BASE_DOCS, INGEST_TEMPLATE_BASE)]
    spans += [add_docs(INGEST_BATCH_DOCS, INGEST_TEMPLATE_BATCH)
              for _ in range(n_batches)]
    full = _doc_table(list(range(len(texts))), texts, rng)
    parts = [full.slice(a, b - a) for a, b in spans]
    return parts[0], parts[1:]
