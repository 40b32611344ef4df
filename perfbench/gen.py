"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files. The program under test only ever
sees the files these write.

- ``write_candy``: a dataset_5-shaped candy-store history (FIXTURES.md):
  36 products, 30 customers, one multiLine JSON array per day with
  about 1,000 transactions of 1-5 items, about 7.5% null ``qty`` items
  and about 1.8% transactions whose items are all null, and stock sized
  so a few products run out.
- ``write_corpus``: ``documents`` and ``embeddings`` tables shaped like
  the sf0.1 testdata (a small shared vocabulary, a few planted exact and
  near duplicates; 64-dim vectors around 10 label centroids).
- ``lineitem_rows``: the two ``lineitem`` columns the serving fixture
  needs (order key, price in cents).
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PRODUCTS = 36
N_CUSTOMERS = 30
TXNS_PER_DAY = 1000
ALL_NULL_TXN_RATE = 0.018
NULL_QTY_RATE = 0.075
FIRST_DAY = dt.date(2024, 2, 1)

_CATEGORIES = {
    "Chewing Gum": ["Mint", "Fruit"],
    "Chocolate": ["Dark", "Milk", "White"],
    "Gummies": ["Sour", "Sweet"],
    "Hard Candy": ["Lollipop", "Drops"],
}
_SHAPES = ["Bar", "Bear", "Ring", "Stick", "Ball", "Worm"]


def day_name(day_idx: int) -> str:
    d = FIRST_DAY + dt.timedelta(days=day_idx)
    return f"transactions_{d:%Y%m%d}.json"


class CandyGenerator:
    """One seeded store history. ``products`` and ``customers`` are
    fixed by the seed; ``day(i)`` is a pure function of (seed, i), so a
    day written in a later pass is the same whichever pass writes it."""

    def __init__(self, seed: int, history_days: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 0])
        # The popularity and stock-cover profiles are fixed and only
        # their assignment to product ids is seeded: how much of the
        # allocation falls after a product runs out (the sequential
        # part of the greedy scan) is then the same at every seed.
        rank = rng.permutation(N_PRODUCTS)
        profile = 1.0 / np.arange(1, N_PRODUCTS + 1) ** 0.6
        self.weights = (profile / profile.sum())[rank]
        price_cents = rng.integers(99, 999, N_PRODUCTS)
        cost_cents = (price_cents * rng.uniform(0.3, 0.7, N_PRODUCTS)).astype(int)
        # expected units per day: items/txn 3, non-null share, mean qty 3
        per_day = TXNS_PER_DAY * 3.0 * (1 - NULL_QTY_RATE) * 3.0 * self.weights
        # most products outlast the history and any passes that extend
        # it; four are sized to run out inside the history
        cover = np.linspace(1.6, 2.2, N_PRODUCTS)
        cover[[2, 8, 17, 29]] = [0.80, 0.85, 0.90, 0.95]
        stock = np.ceil(per_day * history_days * cover[rank]).astype(int)
        cats = list(_CATEGORIES)
        self.products = []
        for i in range(N_PRODUCTS):
            cat = cats[i % len(cats)]
            sub = _CATEGORIES[cat][i % len(_CATEGORIES[cat])]
            self.products.append(
                {
                    "product_id": i + 1,
                    "product_name": f"{sub} {cat} {i + 1}",
                    "product_category": cat,
                    "product_subcategory": sub,
                    "product_shape": _SHAPES[i % len(_SHAPES)],
                    "sales_price": f"{price_cents[i] / 100:.2f}",
                    "cost_to_make": f"{cost_cents[i] / 100:.2f}",
                    "stock": int(stock[i]),
                }
            )

    def day(self, day_idx: int) -> list[dict]:
        rng = np.random.default_rng([self.seed, 1, day_idx])
        n = TXNS_PER_DAY
        micros = np.sort(rng.integers(0, 86400 * 10**6, n))
        n_items = rng.integers(1, 6, n)
        # weighted sampling without replacement per transaction (Gumbel
        # top-k): the first n_items[t] columns of each row
        keys = np.log(self.weights) + rng.gumbel(size=(n, N_PRODUCTS))
        pids = np.argsort(-keys, axis=1)[:, :5] + 1
        qty = rng.integers(1, 6, (n, 5))
        all_null = rng.random(n) < ALL_NULL_TXN_RATE
        # per-item null rate for the other transactions, so the overall
        # item null rate stays near NULL_QTY_RATE
        p_null = (NULL_QTY_RATE - ALL_NULL_TXN_RATE) / (1 - ALL_NULL_TXN_RATE)
        null = rng.random((n, 5)) < p_null
        null[all_null] = True
        keep = rng.integers(0, n_items)  # one item kept non-null if needed
        cust = rng.integers(1, N_CUSTOMERS + 1, n)
        base = FIRST_DAY + dt.timedelta(days=day_idx)
        t0 = dt.datetime(base.year, base.month, base.day)
        names = [p["product_name"] for p in self.products]
        txns = []
        for t in range(n):
            k = int(n_items[t])
            z = null[t, :k]
            if not all_null[t] and z.all():
                z[keep[t]] = False
            ts = t0 + dt.timedelta(microseconds=int(micros[t]))
            txns.append(
                {
                    "transaction_id": 10_000_000 + day_idx * 2_000 + t,
                    "customer_id": int(cust[t]),
                    "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                    "items": [
                        {
                            "product_id": int(pids[t, j]),
                            "product_name": names[pids[t, j] - 1],
                            "qty": None if z[j] else int(qty[t, j]),
                        }
                        for j in range(k)
                    ],
                }
            )
        return txns

    def write_day(self, out_dir: str, day_idx: int) -> str:
        path = os.path.join(out_dir, day_name(day_idx))
        # one transaction per line inside one JSON array: a multiLine
        # document, written by the C encoder
        with open(path, "w") as f:
            f.write("[\n" + ",\n".join(map(json.dumps, self.day(day_idx))) + "\n]\n")
        return path

    def write_products(self, out_dir: str) -> str:
        path = os.path.join(out_dir, "products.csv")
        with open(path, "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=list(self.products[0]))
            w.writeheader()
            w.writerows(self.products)
        return path

    def write_customers(self, out_dir: str) -> str:
        rng = np.random.default_rng([self.seed, 2])
        path = os.path.join(out_dir, "customers.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["customer_id", "first_name", "last_name", "email", "address", "phone"])
            for c in range(1, N_CUSTOMERS + 1):
                w.writerow(
                    [c, f"First{c}", f"Last{c}", f"c{c}@example.com",
                     f"{int(rng.integers(1, 999))} Main St", f"555-{c:04d}"]
                )
        return path


def write_candy(out_dir: str, seed: int, history_days: int) -> tuple[CandyGenerator, list[str]]:
    """Products, customers and ``history_days`` day files into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    gen = CandyGenerator(seed, history_days)
    gen.write_products(out_dir)
    gen.write_customers(out_dir)
    return gen, [gen.write_day(out_dir, d) for d in range(history_days)]


_VOCAB = (
    "a the data spark scan sort hash join agg group filter window stream "
    "batch merge table query key value row column order line part vector "
    "customer small big fast slow"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` into ``out_dir``.

    About 1% of documents are planted exact copies and 2% near copies
    (one word replaced) of earlier documents, so the dedup queries have
    pairs to find at every seed."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 10])
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.03:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
            continue
        n_words = int(rng.integers(8, 80))
        texts.append(" ".join(rng.choice(vocab, n_words)))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([_LANGS[int(j)] for j in rng.integers(0, len(_LANGS), n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    dim, n_labels = 64, 10
    centroids = rng.normal(0.0, 1.0, (n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def lineitem_rows(seed: int, n_orders: int, first_key: int = 1) -> pa.Table:
    """(okey, cents) rows: 1-7 lines per order key, keys
    ``first_key .. first_key + n_orders - 1``."""
    rng = np.random.default_rng([seed, 20, first_key])
    per = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(first_key, first_key + n_orders, dtype=np.int64), per)
    cents = rng.integers(90_000, 10_500_000, len(okey)).astype(np.int64)
    return pa.table({"okey": okey, "cents": cents})
