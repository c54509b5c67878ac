"""Seeded input generation and staging.

Every input of every workload comes from one ``--seed``: the planted-
cluster corpus, the query noise, fresh write ids and vectors, and the
fixture-shaped ``documents`` table the pipeline reads.
The program under test only ever sees the files written here.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the fixture vocabulary shape (30 content words, uniform draws)
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a draw to one
    input never shifts another."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def planted_corpus(seed: int, n: int, dim: int, n_clusters: int) -> np.ndarray:
    """n x dim float32 vectors around ``n_clusters`` planted centres
    spread 0.75 in-cluster deviations per dimension: the clusters overlap,
    which keeps graph-index recall from hinging on whether a seed's
    clusters happen to be connected in the graph."""
    rng = rng_for(seed, "corpus")
    centres = rng.normal(0.0, 0.75, size=(n_clusters, dim))
    member = rng.integers(0, n_clusters, size=n)
    x = centres[member] + rng.normal(0.0, 1.0, size=(n, dim))
    return x.astype(np.float32)


def noisy_queries(seed: int, corpus: np.ndarray, n: int, stream: str) -> np.ndarray:
    """Corpus vectors plus seeded noise (scale 0.5 of the unit in-cluster
    spread), so every query has a real neighbourhood."""
    rng = rng_for(seed, stream)
    base = corpus[rng.integers(0, len(corpus), size=n)]
    return (base + rng.normal(0.0, 0.5, size=base.shape)).astype(np.float32)


def documents(seed: int, n: int) -> pd.DataFrame:
    """Fixture-shaped ``documents`` (doc_id, text, lang, source, n_chars):
    10-100 tokens from a 30-word vocabulary, with ~5 % near-duplicates
    (a copy with a couple of tokens changed) so the dedup steps find work."""
    rng = rng_for(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(2):
                toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = list(rng.choice(_VOCAB, size=int(rng.integers(10, 101))))
        texts.append(" ".join(toks))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[int(j)] for j in rng.integers(0, len(_LANGS), n)],
            "source": [f"src{int(j)}" for j in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, id_col: str,
                  vec_col: str = "embedding") -> None:
    """(id long, vector array<float>) parquet, the layout Spark reads
    straight into a collection, an index build or a batch search."""
    table = pa.table(
        {
            id_col: pa.array(ids.astype(np.int64)),
            vec_col: pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path)


def write_docs_json(path: str, ids: np.ndarray, docs: list[dict]) -> None:
    """(id long, doc string) parquet for the API's document store."""
    table = pa.table(
        {"id": pa.array(ids.astype(np.int64)), "doc": [json.dumps(d) for d in docs]}
    )
    pq.write_table(table, path)


def write_frame(path: str, df: pd.DataFrame) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def stage_dir(work: str, name: str) -> str:
    path = os.path.join(work, name)
    os.makedirs(path, exist_ok=True)
    return path
