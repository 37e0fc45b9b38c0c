"""Seeded input generators and the ground-truth ledger the checks compare to.

Everything here is a pure function of the seed: text files for the storage
workloads, churn for the delta workload, and orders/lineitem tables plus a
docs table with planted duplicates for the query workload. The engine only
ever sees the files these functions write.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# A fixed synthetic vocabulary: large enough that independent documents share
# almost no word 3-shingles, so only planted duplicates look alike.
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "po", "qu", "do"]
VOCAB = [a + b + c for a in _SYL for b in _SYL for c in _SYL]  # 1728 words

# Input sizes are fixed; the seed picks only contents, churn and query
# parameters. They are chosen so that a run of each workload, session start
# included, stays near a minute on a 4-core machine (see README.md).
INGEST_FILES = 600  # fresh files per bucket_ingest op
BASE_FILES = 1000  # files in the delta_refresh bucket before any churn
DUP_SHARE = 0.05  # share of a prefix's files that near-copy an earlier one
FANOUT = 8  # subdirectories a prefix spreads its files over
# churn per delta_refresh op, as shares of the live file count
CHURN_ADD, CHURN_MODIFY, CHURN_DELETE = 0.02, 0.01, 0.005
N_ORDERS, N_VERSIONS = 40_000, 3  # orders in the latest snapshot; snapshots
N_DOCS, N_PLANTED = 800, 25  # random docs; exact copies, and as many near ones


def paragraphs(text: str) -> list[str]:
    """The paragraph split shared by the ingest UDF and the ledger."""
    return [p for p in text.split("\n\n") if p.strip()]


def make_text(rng: random.Random, max_paras: int = 6) -> str:
    paras = [
        " ".join(rng.choices(VOCAB, k=rng.randint(4, 90)))
        for _ in range(rng.randint(1, max_paras))
    ]
    return "\n\n".join(paras)


def near_duplicate(rng: random.Random, text: str) -> str:
    """Copy ``text`` with one word replaced by a different one (same
    paragraph layout)."""
    words = text.split(" ")
    i = rng.randrange(len(words))
    head, sep, tail = words[i].partition("\n\n")
    new = rng.choice([w for w in VOCAB if w != head])
    words[i] = new + sep + tail
    return " ".join(words)


@dataclass
class FileFacts:
    size: int
    words: int
    paras: tuple[int, ...]  # word count of each paragraph


def facts(text: str) -> FileFacts:
    counts = tuple(len(p.split()) for p in paragraphs(text))
    return FileFacts(len(text.encode()), sum(counts), counts)


@dataclass
class Bucket:
    """A directory of text files and the ledger of what it holds."""

    root: str
    files: dict[str, FileFacts] = field(default_factory=dict)  # relpath -> facts

    def write(self, rel: str, text: str) -> None:
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        self.files[rel] = facts(text)

    def delete(self, rel: str) -> None:
        os.remove(os.path.join(self.root, rel))
        del self.files[rel]

    @property
    def live_bytes(self) -> int:
        return sum(f.size for f in self.files.values())


def fill_prefix(bucket: Bucket, rng: random.Random, prefix: str, n: int) -> list[str]:
    """Write ``n`` fresh files under ``prefix`` spread over ``FANOUT``
    subdirectories; ``DUP_SHARE`` of them are near-copies of an earlier file
    of the same prefix. Returns the relative paths written."""
    written: list[str] = []
    texts: list[str] = []
    for i in range(n):
        if texts and rng.random() < DUP_SHARE:
            text = near_duplicate(rng, rng.choice(texts))
        else:
            text = make_text(rng)
        texts.append(text)
        rel = f"{prefix}/d{i % FANOUT}/f{i:05d}.txt"
        bucket.write(rel, text)
        written.append(rel)
    return written


@dataclass
class Churn:
    added: list[str]
    modified: list[str]
    deleted: list[str]


def apply_churn(bucket: Bucket, rng: random.Random, tag: str) -> Churn:
    """Seeded churn on a live bucket: the ``CHURN_*`` shares are of the
    current file count. A modified file gains a paragraph, so its size
    always changes."""
    live = sorted(bucket.files)
    n = len(live)
    n_mod = round(n * CHURN_MODIFY)
    picked = rng.sample(live, n_mod + round(n * CHURN_DELETE))
    modified, deleted = picked[:n_mod], picked[n_mod:]
    for rel in modified:
        with open(os.path.join(bucket.root, rel), encoding="utf-8") as f:
            old = f.read()
        bucket.write(rel, old + "\n\n" + make_text(rng, max_paras=1))
    for rel in deleted:
        bucket.delete(rel)
    added = [f"{tag}/d{i % FANOUT}/n{i:05d}.txt" for i in range(round(n * CHURN_ADD))]
    for rel in added:
        bucket.write(rel, make_text(rng))
    return Churn(added, modified, deleted)


# -- tables for dataset_query ------------------------------------------------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def make_tables(seed: int) -> list[dict[str, pd.DataFrame]]:
    """orders/lineitem-shaped tables, one snapshot per version: each version
    appends a new batch of orders (with their line items) to the previous.
    Money is in integer cents so sums compare exactly with DuckDB's."""
    g = np.random.default_rng(seed)
    per = N_ORDERS // N_VERSIONS
    snaps, orders, items = [], [], []
    for v in range(N_VERSIONS):
        keys = np.arange(v * per, (v + 1) * per, dtype=np.int64)
        o = pd.DataFrame({
            "orderkey": keys,
            "custkey": g.integers(0, N_ORDERS // 10, per),
            "orderpriority": np.array(PRIORITIES)[g.integers(0, 5, per)],
            "orderday": g.integers(0, 2000, per).astype(np.int32),
            "totalcents": g.integers(10_000, 5_000_000, per),
        })
        n_items = g.integers(1, 8, per)
        li = pd.DataFrame({
            "orderkey": np.repeat(keys, n_items),
            "linenumber": np.concatenate([np.arange(k) for k in n_items]).astype(np.int32),
            "quantity": g.integers(1, 50, int(n_items.sum())).astype(np.int32),
            "price_cents": g.integers(100, 1_000_000, int(n_items.sum())),
            "returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, int(n_items.sum()))],
            "shipday": g.integers(0, 2100, int(n_items.sum())).astype(np.int32),
        })
        orders.append(o)
        items.append(li)
        snaps.append({
            "orders": pd.concat(orders, ignore_index=True),
            "lineitem": pd.concat(items, ignore_index=True),
        })
    return snaps


@dataclass
class Docs:
    frame: pd.DataFrame  # id, text
    exact_pairs: list[tuple[int, int]]  # (kept id, duplicate id)
    near_pairs: list[tuple[int, int]]


def make_docs(seed: int) -> Docs:
    """``N_DOCS`` docs plus planted duplicates: ``N_PLANTED`` copies that
    differ only in case and spacing (equal after normalisation) and
    ``N_PLANTED`` copies with one word changed. Each duplicate's id is above
    its original's."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(60, 120))) for _ in range(N_DOCS)]
    originals = rng.sample(range(N_DOCS), 2 * N_PLANTED)
    exact, near = [], []
    for j, src in enumerate(originals):
        dup = len(texts)
        if j < N_PLANTED:
            texts.append("  " + texts[src].upper() + " ")
            exact.append((src, dup))
        else:
            texts.append(near_duplicate(rng, texts[src]))
            near.append((src, dup))
    frame = pd.DataFrame({"id": np.arange(len(texts), dtype=np.int64), "text": texts})
    return Docs(frame, exact, near)
