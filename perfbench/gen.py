"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: the program under test receives only
the parquet files these functions write, never a Spark-built input. Each
generator also returns the plain facts the correctness checks compare
against (digests, expected watermarks, planted duplicates), computed
without Spark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
STATUSES = np.array(["new", "paid", "shipped", "returned", "closed"])

# --------------------------------------------------------------------------
# Orders table (incremental_sync)
# --------------------------------------------------------------------------


def orders_batch(rng: np.random.Generator, ids: np.ndarray,
                 minute_lo: int, minute_hi: int) -> dict[str, np.ndarray]:
    """One batch of order rows as numpy columns. ``updated_at`` has
    minute resolution inside ``[minute_lo, minute_hi)``, so several rows
    share a timestamp (the ties the hybrid (ts, id) keyset exists for);
    ids are a shuffled block, so id order disagrees with time order.
    ``status`` is NULL on ~3% of rows and ``note`` holds real NULLs plus
    literal ``'null'`` strings, which the alignment cast scrubs to NULL."""
    n = len(ids)
    minutes = rng.integers(minute_lo, minute_hi, n)
    status_idx = rng.integers(0, len(STATUSES), n)
    status_null = rng.random(n) < 0.03
    note_kind = rng.random(n)
    return {
        "id": rng.permutation(ids).astype(np.int64),
        "updated_at": (np.datetime64(EPOCH, "us")
                       + minutes.astype("timedelta64[m]")),
        "amount_cents": rng.integers(1, 5_000_000, n).astype(np.int64),
        "qty": rng.integers(1, 100, n).astype(np.int64),
        "is_gift": rng.integers(0, 2, n).astype(np.int64),
        "status": np.where(status_null, None, STATUSES[status_idx]),
        "note": np.where(note_kind < 0.05, None,
                         np.where(note_kind < 0.07, "null",
                                  np.char.add("n", (status_idx * 7).astype(str)))),
    }


def orders_table(cols: dict[str, np.ndarray]) -> pa.Table:
    """Source-side layout: amounts as float dollars, flags as ints — the
    alignment stage casts them to the target schema."""
    return pa.table({
        "id": pa.array(cols["id"], pa.int64()),
        "updated_at": pa.array(cols["updated_at"], pa.timestamp("us")),
        "amount": pa.array(cols["amount_cents"] / 100.0, pa.float64()),
        "qty": pa.array(cols["qty"], pa.int64()),
        "is_gift": pa.array(cols["is_gift"], pa.int64()),
        "status": pa.array(cols["status"], pa.string()),
        "note": pa.array(cols["note"], pa.string()),
    })


def digest(cols: dict[str, np.ndarray]) -> dict:
    """Order-independent digest of an orders batch as the target must
    hold it after alignment (literal 'null' notes become NULL)."""
    status = cols["status"]
    note = cols["note"]
    st_null = np.array([s is None for s in status])
    note_null = np.array([v is None or v == "null" for v in note])
    vals, counts = np.unique(status[~st_null].astype(str), return_counts=True)
    per_status = {str(v): int(c) for v, c in zip(vals, counts)}
    if st_null.any():
        per_status[None] = int(st_null.sum())
    ts = cols["updated_at"]
    return {
        "rows": int(len(cols["id"])),
        "id_sum": int(cols["id"].sum()),
        "cents_sum": int(cols["amount_cents"].sum()),
        "per_status": per_status,
        "nulls": int(st_null.sum() + note_null.sum()),
        "ts_min": ts.min().astype("datetime64[us]").item() if len(ts) else None,
        "ts_max": ts.max().astype("datetime64[us]").item() if len(ts) else None,
    }


def max_cursor(cols: dict[str, np.ndarray]) -> tuple[str, int]:
    """Expected watermark: the lexicographic max of (updated_at, id),
    rendered the way the watermark document stores it."""
    ts = cols["updated_at"]
    top = ts.max()
    last_id = int(cols["id"][ts == top].max())
    return top.astype("datetime64[s]").item().strftime("%Y-%m-%d %H:%M:%S"), last_id


def write_parquet(table: pa.Table, path: str, row_group_size: int = 131_072) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size)


# --------------------------------------------------------------------------
# Corpus (curate)
# --------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
SOURCES = ("web", "books", "code", "forum")
SOURCE_WEIGHTS = (0.55, 0.25, 0.15, 0.05)


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    words -= set(STOPWORDS)
    return np.array(sorted(words))


def _doc(rng: np.random.Generator, vocab: np.ndarray, probs: np.ndarray,
         n_words: int) -> list[str]:
    """Zipf-ish content words with ~25% stopwords mixed in, so the
    quality score keeps most docs."""
    words = rng.choice(vocab, n_words, p=probs)
    stop = rng.random(n_words) < 0.25
    words[stop] = rng.choice(np.array(STOPWORDS), int(stop.sum()))
    return [str(w) for w in words]


def corpus(seed: int, n_base: int) -> dict:
    """A corpus of ``n_base`` unique docs plus planted exact duplicates
    (8%), planted near-duplicates (5%: two word swaps in a long doc, true
    word-3-gram Jaccard >= 0.5 with its original), a few repetitive
    low-quality docs, four sources of skewed size, and an eval set whose
    first half copies train docs verbatim."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)
    ranks = np.arange(1, len(vocab) + 1)
    probs = 1.0 / ranks ** 1.1
    probs /= probs.sum()

    texts: list[str] = []
    for _ in range(n_base):
        texts.append(" ".join(_doc(rng, vocab, probs, int(rng.integers(30, 160)))))
    n_rep = max(1, n_base // 50)
    for _ in range(n_rep):
        w = [str(x) for x in rng.choice(vocab[:20], 3)]
        texts.append(" ".join(w * int(rng.integers(10, 30))))

    n_exact = int(n_base * 0.08)
    exact_src = rng.choice(n_base, n_exact, replace=False)
    texts.extend(texts[i] for i in exact_src)

    long_docs = [i for i in range(n_base) if texts[i].count(" ") >= 80]
    n_near = min(int(n_base * 0.05), len(long_docs))
    near_src = rng.choice(np.array(long_docs), n_near, replace=False)
    near_pairs = []
    for i in near_src:
        toks = texts[i].split(" ")
        for pos in rng.choice(len(toks), 2, replace=False):
            toks[pos] = str(rng.choice(vocab[-500:]))
        near_pairs.append((int(i), len(texts)))
        texts.append(" ".join(toks))

    src_idx = rng.choice(len(SOURCES), len(texts), p=SOURCE_WEIGHTS)
    ids = rng.permutation(len(texts)).astype(np.int64) + 1

    n_eval = max(4, n_base // 40)
    contam_src = rng.choice(n_base, n_eval // 2, replace=False)
    evals = [texts[i] for i in contam_src]
    evals += [" ".join(_doc(rng, vocab, probs, 60)) for _ in range(n_eval - len(evals))]

    return {
        "ids": ids,
        "texts": texts,
        "sources": [SOURCES[s] for s in src_idx],
        "eval_texts": evals,
        "near_pairs": [(int(ids[a]), int(ids[b])) for a, b in near_pairs],
    }


def corpus_tables(c: dict) -> tuple[pa.Table, pa.Table]:
    docs = pa.table({"doc_id": pa.array(c["ids"], pa.int64()),
                     "text": pa.array(c["texts"], pa.string()),
                     "source": pa.array(c["sources"], pa.string())})
    ev = pa.table({"doc_id": pa.array(np.arange(1, len(c["eval_texts"]) + 1),
                                      pa.int64()),
                   "text": pa.array(c["eval_texts"], pa.string())})
    return docs, ev


def md5_hex(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()
