"""Seeded input generators for the benchmark workloads.

Every workload reads only files made here from ``--seed``: the same seed
gives byte-identical inputs. Generation happens before set-up and is
excluded from every metric. Outputs are cached per (kind, size, seed)
under the benchmark's work directory, so repeated runs with one seed
generate once.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Olist-shaped seed sizes: orders ↔ customers are 1:1 as in the public
# Olist dataset; items average ~1.15 per order.
OLIST_ORDERS = 10_000
# events/documents sizes match the sf0.01 tables (10k / 500 rows)
N_EVENTS = 10_000
N_DOCS = 500

_STATES = ["SP", "RJ", "MG", "RS", "PR", "SC", "BA", "DF", "GO", "ES", "PE", "CE"]
_CITIES = ["sao paulo", "rio de janeiro", "belo horizonte", "porto alegre",
           "curitiba", "florianopolis", "salvador", "brasilia", "goiania",
           "vitoria", "recife", "fortaleza", "campinas", "santos"]
_STATUSES = ["delivered", "shipped", "canceled", "invoiced", "processing",
             "unavailable", "approved"]
_STATUS_P = [0.90, 0.04, 0.02, 0.015, 0.015, 0.005, 0.005]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_WORDS = ("key agg row scan slow fast table value part hash a the line sort "
          "window join order group query filter merge batch column data "
          "customer stream spark small big vector").split()


def cached(root: str, name: str, make) -> str:
    """Return ``root/name``, building it with ``make(tmp_dir)`` first if it
    is not there yet. The build goes to a temp dir renamed into place, so
    an interrupted run never leaves a half-written input set."""
    final = os.path.join(root, name)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    os.replace(tmp, final)
    return final


def _hex_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct 32-hex ids (the Olist id shape)."""
    hi = rng.integers(0, 2**63, size=n, dtype=np.int64)
    lo = np.arange(n, dtype=np.int64) * 2654435761 % (2**61)  # distinct per row
    return np.array([f"{h:016x}{l:016x}" for h, l in zip(hi, lo)])


def _fmt_ts(secs: np.ndarray, present: np.ndarray) -> list[str]:
    out = pd.to_datetime(secs, unit="s").strftime("%Y-%m-%d %H:%M:%S")
    return [s if p else "" for s, p in zip(out, present)]


def olist_csvs(out_dir: str, seed: int, n_orders: int = OLIST_ORDERS) -> None:
    """Write the three Olist seed CSVs the demo project ingests, plus
    ``expected.json`` with the ``fct_orders`` row count and revenue total
    (exact cents) that a correct build must reproduce."""
    rng = np.random.default_rng(seed)
    n = n_orders
    cust_ids = _hex_ids(rng, n)
    uniq_pool = _hex_ids(rng, int(n * 0.97))
    customers = pd.DataFrame({
        "customer_id": cust_ids,
        "customer_unique_id": uniq_pool[rng.integers(0, len(uniq_pool), n)],
        "customer_zip_code_prefix": [f"{z:05d}" for z in rng.integers(1000, 99990, n)],
        "customer_city": rng.choice(_CITIES, n),
        "customer_state": rng.choice(_STATES, n),
    })

    order_ids = _hex_ids(rng, n)
    status = rng.choice(_STATUSES, n, p=_STATUS_P)
    t0 = pd.Timestamp("2016-09-01").timestamp()
    purchased = t0 + rng.integers(0, 760 * 86400, n)
    approved = purchased + rng.integers(600, 2 * 86400, n)
    carrier = approved + rng.integers(12 * 3600, 5 * 86400, n)
    delivered = carrier + rng.integers(86400, 20 * 86400, n)
    estimated = (purchased // 86400 + rng.integers(10, 40, n)) * 86400
    shipped = np.isin(status, ["delivered", "shipped"])
    orders = pd.DataFrame({
        "order_id": order_ids,
        "customer_id": cust_ids[rng.permutation(n)],
        "order_status": status,
        "order_purchase_timestamp": _fmt_ts(purchased, np.ones(n, bool)),
        "order_approved_at": _fmt_ts(approved, status != "canceled"),
        "order_delivered_carrier_date": _fmt_ts(carrier, shipped),
        "order_delivered_customer_date": _fmt_ts(delivered, status == "delivered"),
        "order_estimated_delivery_date": _fmt_ts(estimated, np.ones(n, bool)),
    })

    per_order = rng.choice([0, 1, 2, 3, 4], n, p=[0.008, 0.892, 0.075, 0.018, 0.007])
    owner = np.repeat(np.arange(n), per_order)
    k = len(owner)
    item_no = np.concatenate([np.arange(1, c + 1) for c in per_order if c]) if k else []
    products = _hex_ids(rng, max(1, n // 3))
    price_c = np.maximum(85, (np.exp(rng.normal(4.4, 0.9, k)) * 100).astype(np.int64))
    freight_c = np.maximum(0, (price_c * 0.15 + rng.normal(800, 400, k)).astype(np.int64))
    items = pd.DataFrame({
        "order_id": order_ids[owner],
        "order_item_id": item_no,
        "product_id": products[rng.integers(0, len(products), k)],
        "price": [f"{c // 100}.{c % 100:02d}" for c in price_c],
        "freight_value": [f"{c // 100}.{c % 100:02d}" for c in freight_c],
    })

    for name, df in (("olist_customers_dataset", customers),
                     ("olist_orders_dataset", orders),
                     ("olist_order_items_dataset", items)):
        df.to_csv(os.path.join(out_dir, f"{name}.csv"), index=False)
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump({"fct_orders_rows": n,
                   "revenue_cents": int(price_c.sum() + freight_c.sum()),
                   "seed_rows": int(n + n + k)}, fh)


def events_documents(out_dir: str, seed: int, n_events: int = N_EVENTS,
                     n_docs: int = N_DOCS) -> None:
    """Write ``events.parquet`` and ``documents.parquet`` in the layout
    ``sources/readers.py`` reads (one file per table, the same Arrow types
    as the sf0.01 tables), the two tables the streaming ops read."""
    rng = np.random.default_rng(seed)
    start_us = int(pd.Timestamp("2024-01-01").value // 1000)
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(start_us + offs, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_events // 67), n_events), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(25.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    texts = [" ".join(rng.choice(_WORDS, rng.integers(8, 100)))
             for _ in range(n_docs)]
    # plant exact (1%) and one-word-edit near (3%) duplicates of earlier docs
    for i in range(1, n_docs):
        r = rng.random()
        if r < 0.04:
            words = texts[int(rng.integers(0, i))].split()
            if r >= 0.01:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts[i] = " ".join(words)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_docs, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
