"""Seeded input generators for the three benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and returns plain
pyarrow tables (plus the planted facts the checks need), so the same
seed always yields the same bytes and the program under test only ever
sees generated files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
BOILERPLATE = "subscribe newsletter cookie policy copyright reserved".split()
EVENT_TYPES = ["click", "view", "signup", "error", "purchase"]


def vocabulary(rng: np.random.Generator, size: int = 4000) -> np.ndarray:
    """Distinct pseudo-words of 2-4 syllables (no boilerplate words)."""
    words: list[str] = []
    seen = set(BOILERPLATE)
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def _zipf_words(rng, vocab, n: int, lo: int = 0) -> list[str]:
    """``n`` words drawn Zipf-like from ``vocab[lo:]``."""
    ranks = np.arange(len(vocab) - lo)
    p = 1.0 / (ranks + 10.0)
    return list(vocab[lo + rng.choice(len(ranks), size=n, p=p / p.sum())])


def corpus(rng: np.random.Generator, n_docs: int) -> dict:
    """A document corpus with planted structure for ``corpus_prepare``.

    * document lengths are log-normal (median ~100 words) with a long
      tail of 800-2,000-word documents;
    * ~95 % of documents carry the same boilerplate block;
    * ~4 % of ids are exact copies of another document (groups of 2-4);
    * ~4 % are near-duplicates (3 % of words substituted);
    * an eval set of ``n_docs // 25`` passages, half of which are
      planted, each into exactly one corpus document.

    Returns ``docs`` (doc_id, text), ``eval`` (text) and the planted
    facts: ``exact_groups`` (lists of ids), ``near_pairs`` and
    ``contaminated`` ids.
    """
    vocab = vocabulary(rng)
    lengths = np.clip(rng.lognormal(4.6, 0.6, n_docs), 12, 700).astype(int)
    long_docs = rng.choice(n_docs, size=max(1, n_docs // 40), replace=False)
    lengths[long_docs] = rng.integers(800, 2000, long_docs.size)
    texts = [_zipf_words(rng, vocab, int(k)) for k in lengths]
    for i in np.flatnonzero(rng.random(n_docs) < 0.95):
        at = int(rng.integers(0, len(texts[i]) + 1))
        texts[i][at:at] = BOILERPLATE

    # ids are assigned through a permutation so a planted copy is as
    # likely to hold the lower id as its source
    order = rng.permutation(n_docs)
    free = list(order)
    exact_groups: list[list[int]] = []
    while sum(len(g) - 1 for g in exact_groups) < n_docs * 0.04:
        size = int(rng.integers(2, 5))
        group = [int(free.pop()) for _ in range(size)]
        for member in group[1:]:
            texts[member] = list(texts[group[0]])
        exact_groups.append(sorted(group))
    near_pairs: list[tuple[int, int]] = []
    while len(near_pairs) < n_docs * 0.04:
        src, dst = int(free.pop()), int(free.pop())
        words = list(texts[src])
        swap = rng.random(len(words)) < 0.03
        for j in np.flatnonzero(swap):
            words[j] = vocab[int(rng.integers(len(vocab)))]
        texts[dst] = words
        near_pairs.append((min(src, dst), max(src, dst)))

    # eval passages use only tail-of-vocabulary words, so corpus-level
    # boilerplate removal never splits a planted 8-gram
    n_eval = max(4, n_docs // 25)
    eval_texts = [_zipf_words(rng, vocab, 60, lo=1000) for _ in range(n_eval)]
    contaminated: list[int] = []
    for e in range(n_eval // 2):
        doc = int(free.pop())
        passage = eval_texts[e][10:40]
        at = int(rng.integers(0, len(texts[doc]) + 1))
        texts[doc][at:at] = passage
        contaminated.append(doc)

    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array([" ".join(t) for t in texts], pa.string()),
        }
    )
    evals = pa.table({"text": pa.array([" ".join(t) for t in eval_texts])})
    return {
        "docs": docs,
        "eval": evals,
        "exact_groups": exact_groups,
        "near_pairs": near_pairs,
        "contaminated": sorted(contaminated),
    }


_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def events(rng: np.random.Generator, n_rows: int, days: int = 14) -> pa.Table:
    """An event table for ``lake_etl``: typed columns, a date partition
    key and a JSON ``props`` string with a nested object."""
    ts = _EPOCH_2024_US + np.sort(
        rng.integers(0, days * 86_400_000_000, n_rows)
    )
    day = (ts - _EPOCH_2024_US) // 86_400_000_000
    etype = rng.choice(len(EVENT_TYPES), n_rows, p=[0.4, 0.3, 0.1, 0.1, 0.1])
    k = rng.integers(0, 100, n_rows)
    src = rng.choice(["web", "app", "api"], n_rows)
    country = rng.choice(["PL", "DE", "US", "FR", "JP"], n_rows)
    props = [
        f'{{"k": {a}, "src": "{b}", "geo": {{"country": "{c}"}}}}'
        for a, b, c in zip(k.tolist(), src.tolist(), country.tolist())
    ]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_rows), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "event_date": pa.array(
                [f"2024-01-{d + 1:02d}" for d in day.tolist()], pa.string()
            ),
            "user_id": pa.array(rng.integers(0, 1000, n_rows), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in etype.tolist()], pa.string()
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2)),
            "props": pa.array(props, pa.string()),
        }
    )


def _days_us(rng, n: int, start_day: int, span_days: int) -> pa.Array:
    day0 = start_day * 86_400_000_000
    days = rng.integers(0, span_days, n) * 86_400_000_000
    return pa.array(day0 + days, pa.timestamp("us"))


def query_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables plus events, documents and embeddings, with
    the column names and value domains the registered queries expect.
    ``scale`` 0.01 gives 60,000 lineitem rows."""
    n_cust, n_ord = int(150_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc = n_emb = int(50_000 * scale)
    y1995 = 9131  # days from 1970-01-01 to 1995-01-01
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(segments, n_cust).tolist(),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _days_us(rng, n_ord, y1995, 2400),
            "o_orderpriority": rng.choice(priorities, n_ord).tolist(),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(float)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _days_us(rng, n_line, y1995, 2500),
        }
    )
    ev_ts = _EPOCH_2024_US + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    events_tbl = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_cust // 10, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
        }
    )
    small_vocab = vocabulary(rng, 40)
    lengths = rng.integers(8, 90, n_doc)
    words = [list(rng.choice(small_vocab, int(n))) for n in lengths]
    langs = rng.choice(["de", "en", "es", "fr", "zh"], n_doc)
    # random texts share almost no 3-gram shingles, so plant near-duplicates
    # (same lang, 10 % of words replaced) for the Jaccard dedup qid to find
    for dst in rng.choice(n_doc, size=n_doc // 20, replace=False):
        src = int(rng.integers(n_doc))
        copy = list(words[src])
        for j in np.flatnonzero(rng.random(len(copy)) < 0.1):
            copy[j] = small_vocab[int(rng.integers(len(small_vocab)))]
        words[dst], langs[dst] = copy, langs[src]
    texts = [" ".join(w) for w in words]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc).tolist()],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return {
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events_tbl,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(tables: dict[str, pa.Table], directory: str) -> int:
    """Write ``<name>.parquet`` per table; returns total bytes written."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(directory, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def planted_shares(planted: dict, n_docs: int) -> dict:
    """Shares of the corpus that the generator planted, for the report."""
    copies = sum(len(g) - 1 for g in planted["exact_groups"])
    return {
        "exact_dup_copies_share": copies / n_docs,
        "near_dup_share": len(planted["near_pairs"]) / n_docs,
        "eval_overlap_share": len(planted["contaminated"]) / n_docs,
        "eval_docs": planted["eval"].num_rows,
        "eval_docs_planted": len(planted["contaminated"]),
    }
