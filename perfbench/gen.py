"""Seeded corpus generator in the fixture schema.

Writes ``documents.parquet`` (doc_id, text, lang, source, n_chars) and
``embeddings.parquet`` (vec_id, embedding[64], label) over
``grammar.VOCAB``.  The same seed and parameters give byte-identical
files; the program under test only ever sees these files.

``entity_density`` is the probability that a token is an entity token
(``grammar.ENTITY_TOKENS``); runs of entity tokens inside one text span
are the mentions, so density sets how many distinct norm texts (and
therefore link/cc nodes and edges) a corpus produces.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kgspark import grammar as G

LANGS = ["en", "es", "de", "fr", "zh"]
EMB_DIM = 64
N_LABELS = 10


@dataclass(frozen=True)
class CorpusParams:
    n_docs: int
    entity_density: float
    min_tokens: int
    max_tokens: int
    n_sources: int
    n_embeddings: int
    first_doc_id: int = 0


def documents_table(params: CorpusParams, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, params.first_doc_id, 1])
    ent = np.array(G.ENTITY_TOKENS, dtype=object)
    stop = np.array(G.STOP_TOKENS, dtype=object)
    lens = rng.integers(params.min_tokens, params.max_tokens + 1, params.n_docs)
    total = int(lens.sum())
    is_ent = rng.random(total) < params.entity_density
    toks = np.where(
        is_ent,
        ent[rng.integers(0, len(ent), total)],
        stop[rng.integers(0, len(stop), total)],
    )
    ends = np.cumsum(lens)
    texts = [" ".join(toks[e - n:e]) for n, e in zip(lens, ends)]
    ids = np.arange(params.first_doc_id, params.first_doc_id + params.n_docs)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(
            [LANGS[i] for i in rng.integers(0, len(LANGS), params.n_docs)],
            pa.string(),
        ),
        "source": pa.array([f"src{i % params.n_sources}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(params: CorpusParams, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = params.n_embeddings
    vecs = (rng.standard_normal((n, EMB_DIM)) * 0.1).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n), pa.int32()),
    })


def write_corpus(out_dir: str, params: CorpusParams, seed: int) -> str:
    """Write both fixture tables under ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents_table(params, seed), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings_table(params, seed), os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
