"""Incremental curation of a seeded corpus into three managed indexes.

Documents draw words from a Zipf vocabulary; each batch also carries
exact copies and one-word edits of earlier documents. Every document has a
64-d embedding near one of eight cluster centres. One cycle is one batch:

1. ``BandIndex.ingest`` drops near duplicates against the index;
2. ``LexicalIndex.ingest`` and ``VectorIndex.append`` index the kept rows
   (the first append trains the vector index);
3. one ``LexicalIndex.topk`` keyword search of two terms and one
   ``VectorIndex.topk`` search of four query vectors.

Every exact copy must be dropped, and each search must equal the
in-memory operator (``bm25_topk`` / ``ivf_topk`` with the index's
centroids) over all kept rows.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from harness import Bench, expect

SIZES = {
    "full": {"batch": 120, "copies": 8, "edits": 8},
    "tiny": {"batch": 30, "copies": 3, "edits": 2},
}
VOCAB = 400
DIM = 64
CLUSTERS = 8
N_LISTS = 4
K = 10
VEC_K = 5
N_PROBE = 2
DOC_SCHEMA = "doc_id long, text string"
VEC_SCHEMA = "vec_id long, embedding array<float>"


def rank_rows(rows) -> list[tuple]:
    return sorted((r["rank"], r["doc_id"], r["n_terms"], r["score_micro"]) for r in rows)


def pairs(rows) -> list[tuple]:
    return sorted((r["q_id"], r["neighbor_id"], r["score"]) for r in rows)


class Corpus:
    #: nominal seconds of one warm cycle on a 4-core host
    cycle_s = 7.0

    def __init__(self, spark, bench: Bench, work_dir: str, rng, size: str):
        self.spark = spark
        self.bench = bench
        self.work_dir = work_dir
        self.rng = rng
        self.size = SIZES[size]
        self.root = None
        w = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
        self.word_p = w / w.sum()

    def build(self, rep: int) -> None:
        from holcstore_spark.sources.band_index import BandIndex
        from holcstore_spark.sources.lexical_index import LexicalIndex
        from holcstore_spark.sources.vector_index import VectorIndex

        if self.root is not None:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(self.work_dir, f"corpus-{rep}")
        self.band = BandIndex(self.spark, os.path.join(self.root, "band"))
        self.lexical = LexicalIndex(self.spark, os.path.join(self.root, "lexical"))
        self.vector = VectorIndex(self.spark, os.path.join(self.root, "vector"),
                                  n_lists=N_LISTS, dim=DIM)
        self.centres = self.rng.normal(size=(CLUSTERS, DIM))
        self.bench.note_input(self.centres)
        self.kept_docs = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                       "text": pd.Series(dtype="object")})
        self.kept_vecs: dict[int, np.ndarray] = {}
        self.next_id = 0
        self.n_batches = 0

    # -- inputs --------------------------------------------------------------
    def _text(self) -> str:
        n = int(self.rng.integers(20, 50))
        return " ".join(f"w{i:03d}" for i in self.rng.choice(VOCAB, size=n, p=self.word_p))

    def _vector(self) -> np.ndarray:
        c = self.centres[int(self.rng.integers(0, CLUSTERS))]
        return (c + 0.3 * self.rng.normal(size=DIM)).astype("float32")

    def _batch(self) -> tuple[pd.DataFrame, set[int]]:
        sz = self.size
        texts = [self._text() for _ in range(sz["batch"])]
        copies: set[int] = set()
        if len(self.kept_docs):
            old = self.kept_docs.text.to_numpy()
            for _ in range(sz["copies"]):
                copies.add(self.next_id + len(texts))
                texts.append(old[int(self.rng.integers(0, len(old)))])
            for _ in range(sz["edits"]):
                words = old[int(self.rng.integers(0, len(old)))].split(" ")
                words[int(self.rng.integers(0, len(words)))] = f"w{int(self.rng.integers(0, VOCAB)):03d}"
                texts.append(" ".join(words))
        ids = np.arange(self.next_id, self.next_id + len(texts), dtype="int64")
        self.next_id += len(texts)
        return pd.DataFrame({"doc_id": ids, "text": texts}), copies

    # -- one batch -------------------------------------------------------------
    def cycle(self):
        b = self.n_batches
        self.n_batches += 1
        docs, copies = self._batch()
        vecs = {int(i): self._vector() for i in docs.doc_id}
        sdf = self.spark.createDataFrame(docs, DOC_SCHEMA)
        kept = self.bench.call(
            "band_index.ingest",
            lambda: [r["doc_id"] for r in self.band.ingest(
                sdf, txn_app="perfbench", txn_version=b).select("doc_id").collect()],
            lambda got: expect(not copies & set(got),
                               f"exact copies kept: {sorted(copies & set(got))}"),
            logs=[self.band.path])
        yield
        kept = sorted(kept or [])
        new_docs = docs[docs.doc_id.isin(kept)]
        self.kept_docs = pd.concat([self.kept_docs, new_docs], ignore_index=True)
        self.kept_vecs.update({i: vecs[i] for i in kept})

        kept_sdf = self.spark.createDataFrame(new_docs, DOC_SCHEMA)
        self.bench.call(
            "lexical_index.ingest",
            lambda: self.lexical.ingest(kept_sdf, txn_app="perfbench", txn_version=b),
            lambda ok: expect(ok is True, "lexical ingest skipped"),
            logs=[self.lexical.path])
        yield
        vec_sdf = self.spark.createDataFrame(
            [(i, vecs[i].tolist()) for i in kept], VEC_SCHEMA)
        self.bench.call(
            "vector_index.append",
            lambda: self.vector.append(vec_sdf, txn_app="perfbench", txn_version=b),
            lambda ok: expect(ok is True, "vector append skipped"),
            logs=[self.vector.path])
        yield
        self.lexical_search()
        yield
        self.vector_search()
        yield

    def lexical_search(self) -> None:
        from holcstore_spark.operators.text import bm25_topk

        # mid-frequency terms: neither in every document nor in none
        terms = [f"w{int(i):03d}" for i in self.rng.integers(5, 60, size=2)]

        def check(got):
            docs = self.spark.createDataFrame(self.kept_docs, DOC_SCHEMA)
            want = rank_rows(bm25_topk(docs, terms, k=K).collect())
            expect(rank_rows(got) == want, f"lexical topk {terms} differs from bm25_topk")

        self.bench.call("lexical_index.topk",
                        lambda: self.lexical.topk(terms, k=K).collect(), check)

    def vector_search(self) -> None:
        from holcstore_spark.operators.similarity import ivf_topk

        # queries carry the index's id column; results name it q_id
        q = self.spark.createDataFrame(
            [(-1 - j, self._vector().tolist()) for j in range(4)], VEC_SCHEMA)

        def check(got):
            cands = self.spark.createDataFrame(
                [(i, v.tolist()) for i, v in self.kept_vecs.items()], VEC_SCHEMA)
            want = pairs(ivf_topk(cands, q, k=VEC_K, n_lists=N_LISTS, n_probe=N_PROBE,
                                  centroids=self.vector.centroids()).collect())
            expect(pairs(got) == want, "vector topk differs from ivf_topk")

        self.bench.call("vector_index.topk",
                        lambda: self.vector.topk(q, k=VEC_K, n_probe=N_PROBE).collect(),
                        check)
