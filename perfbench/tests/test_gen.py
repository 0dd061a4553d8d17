"""The seeded generator: same seed, same bytes; new seed, new corpus."""

import hashlib
import os

import pyarrow.parquet as pq

from gen import EMB_DIM, CorpusParams, write_corpus
from kgspark import grammar as G

PARAMS = CorpusParams(n_docs=50, entity_density=0.3, min_tokens=10, max_tokens=40,
                      n_sources=4, n_embeddings=16)
FILES = ("documents.parquet", "embeddings.parquet")


def _digests(d):
    return [hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest() for f in FILES]


def test_same_seed_same_files(tmp_path):
    a = write_corpus(str(tmp_path / "a"), PARAMS, 7)
    b = write_corpus(str(tmp_path / "b"), PARAMS, 7)
    assert _digests(a) == _digests(b)


def test_different_seed_different_files(tmp_path):
    a = write_corpus(str(tmp_path / "a"), PARAMS, 7)
    b = write_corpus(str(tmp_path / "b"), PARAMS, 8)
    da, db = _digests(a), _digests(b)
    assert da[0] != db[0] and da[1] != db[1]


def test_fixture_schema_and_parameters(tmp_path):
    d = write_corpus(str(tmp_path / "c"), PARAMS, 3)
    docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas()
    embs = pq.read_table(os.path.join(d, "embeddings.parquet")).to_pandas()
    assert list(docs.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert list(embs.columns) == ["vec_id", "embedding", "label"]
    assert len(docs) == PARAMS.n_docs and len(embs) == PARAMS.n_embeddings
    toks = [t.split(" ") for t in docs["text"]]
    assert all(PARAMS.min_tokens <= len(t) <= PARAMS.max_tokens for t in toks)
    assert {w for t in toks for w in t} <= set(G.VOCAB)
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    assert docs["source"].nunique() == PARAMS.n_sources
    assert all(len(e) == EMB_DIM for e in embs["embedding"])
