"""Seeded benchmark inputs, written once per (workload, seed) as parquet.

Every input derives from one base table, ``data/documents.parquet``
(5,000 documents: ``doc_id``, ``text``, ``lang``, ``source``,
``n_chars``; the same table the registry's ``q_semantic_*`` queries
read at scale factor 0.1).

A seed relabels the base table: a seeded permutation of the text
vocabulary and of the ``src<N>`` source labels. Seed 0 is the
identity, so the default seed renders exactly what the registry
renders. Relabelling changes every document's bytes (content hashes,
cache keys, MinHash signatures) but keeps every word one token and
keeps which documents the program samples (it samples by hashed path),
so token and request counts do not depend on the seed and can be
compared exactly across seeds.

A lake of ``copies`` × 5,000 documents gives copy ``k`` its own
relabelling and ids ``doc_id + k * 5000``, so paths stay unique.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
N_BASE = 5000
N_FILES = 16


def base_table() -> pd.DataFrame:
    return pq.read_table(BASE).to_pandas()


def _relabel(base: pd.DataFrame, seed: int, copy: int) -> pd.DataFrame:
    """Copy ``copy`` of the base table under the seed's relabelling."""
    if seed == 0 and copy == 0:
        return base.copy()
    rng = np.random.default_rng([seed, copy])
    vocab = sorted({w for s in base["text"] for w in s.split(" ")})
    words = dict(zip(vocab, rng.permutation(vocab)))
    n_src = base["source"].nunique()
    src_perm = rng.permutation(n_src)
    out = base.copy()
    out["doc_id"] = base["doc_id"] + copy * N_BASE
    out["text"] = [" ".join(words[w] for w in s.split(" ")) for s in base["text"]]
    out["source"] = [f"src{src_perm[int(s[3:])]}" for s in base["source"]]
    out["n_chars"] = out["text"].str.len()
    return out


def relabelled(seed: int, copies: int = 1, n: int = N_BASE) -> pd.DataFrame:
    """The seed's lake: ``copies`` relabelled copies of the first ``n``
    base documents."""
    base = base_table().iloc[:n]
    return pd.concat(
        [_relabel(base, seed, k) for k in range(copies)], ignore_index=True
    )


def render_kv(table: pd.DataFrame) -> pd.DataFrame:
    """``key: value`` documents, rendered as the registry renders them."""
    content = (
        "doc_id: " + table["doc_id"].astype(str)
        + "\nsource: " + table["source"]
        + "\nlang: " + table["lang"]
        + "\ntext: " + table["text"]
    )
    return pd.DataFrame(
        {
            "path": "doc://" + table["doc_id"].astype(str),
            "content": content,
            "doc_type": "txt",
            "n_bytes": table["text"].str.len().astype("int64"),
        }
    )


def corpus_10x(table: pd.DataFrame) -> pd.DataFrame:
    """``bench.py``'s corpus_chain_10x recipe: per source document, 3
    exact copies, 4 repetition variants (text repeated 2..5 times) and
    3 rewrites (md5 prefix + reversed text), with ids ``doc_id*10+k``."""
    parts = []
    for k in range(10):
        part = table.copy()
        part["doc_id"] = table["doc_id"] * 10 + k
        if 3 <= k < 7:
            part["text"] = [" ".join([t] * (k - 1)) for t in table["text"]]
        elif k >= 7:
            part["text"] = [
                hashlib.md5(f"{t}{k}".encode()).hexdigest() + " " + t[::-1]
                for t in table["text"]
            ]
        parts.append(part)
    out = pd.concat(parts, ignore_index=True)
    out["n_chars"] = out["text"].str.len()
    return out


def write_parquet(df: pd.DataFrame, out_dir: str, n_files: int = N_FILES) -> str:
    """Write ``df`` as ``n_files`` parquet files (so scans spread over
    every core) plus a ``_DONE`` marker; a finished directory is reused."""
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for i, idx in enumerate(np.array_split(np.arange(len(df)), n_files)):
        pq.write_table(
            pa.Table.from_pandas(df.iloc[idx], preserve_index=False),
            os.path.join(out_dir, f"part-{i:04d}.parquet"),
        )
    with open(marker, "w") as fh:
        fh.write(str(len(df)))
    return out_dir
