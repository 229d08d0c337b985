"""Seeded input tables for the benchmark.

Every table the workloads read is generated here from ``--seed``, so the
same seed gives byte-identical inputs and the program sees nothing else.
Schemas follow the TPC-H-ish columns the library's source layer reads
(``orders``, ``lineitem``) and the ``documents`` corpus the retrieval
stores index. Sizes scale with ``sf`` exactly like the repository's
reference data: sf0.1 is 150k orders, ~600k line items and 5k documents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Consonant-vowel syllables make a vocabulary of distinct lowercase
# words; the tokenizer splits on whitespace only.
_CONS = "bcdfghklmnprstvz"
_VOWS = "aeiou"


def vocabulary(n_words: int, rng: np.random.Generator) -> list[str]:
    words: set[str] = set()
    while len(words) < n_words:
        n_syl = int(rng.integers(2, 4))
        words.add(
            "".join(
                _CONS[int(rng.integers(len(_CONS)))]
                + _VOWS[int(rng.integers(len(_VOWS)))]
                for _ in range(n_syl)
            )
        )
    return sorted(words)


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def generate(out_dir: str, sf: float, seed: int) -> dict:
    """Write ``orders``, ``lineitem`` and ``documents`` parquet files to
    ``out_dir``; returns their row counts and the corpus vocabulary."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_orders = max(1000, int(1_500_000 * sf))
    # sparse keys, as TPC-H's: a quarter of the key space is populated,
    # so a uniformly drawn key outside the set is a genuine miss
    order_keys = np.sort(
        rng.choice(np.arange(1, 4 * n_orders + 1, dtype=np.int64), n_orders, replace=False)
    )
    prices = np.round(rng.uniform(900.0, 500_000.0, n_orders), 2)
    pq.write_table(
        pa.table({"o_orderkey": order_keys, "o_totalprice": prices}),
        os.path.join(out_dir, "orders.parquet"),
    )

    lines = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(order_keys, lines)
    l_linenumber = np.concatenate([np.arange(1, c + 1, dtype=np.int32) for c in lines])
    n_lines = len(l_orderkey)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": l_orderkey,
                "l_linenumber": l_linenumber,
                "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n_lines), 2),
                "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )

    n_docs = max(200, int(50_000 * sf))
    vocab = vocabulary(2000, rng)
    weights = zipf_weights(len(vocab), 1.05)
    lengths = rng.integers(8, 64, n_docs)
    tokens = rng.choice(len(vocab), int(lengths.sum()), p=weights)
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(vocab[t] for t in tokens[pos : pos + n]))
        pos += n
    pq.write_table(
        pa.table({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}),
        os.path.join(out_dir, "documents.parquet"),
    )
    return {
        "orders": n_orders,
        "lineitem": n_lines,
        "documents": n_docs,
        "vocab": vocab,
        "vocab_weights": weights,
    }
