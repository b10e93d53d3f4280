"""Seeded input generators. The same seed gives the same inputs; the
library receives only what these functions return."""

from __future__ import annotations

import os

import numpy as np


def _unit(x: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(x, axis=-1, keepdims=True)
    n[n == 0] = 1.0
    return x / n


class VectorCorpus:
    """Mixture-of-Gaussians multi-vector corpus in the geometry of
    ``lintdb_spark.golden``: every doc draws its tokens from a few
    clusters, as real ColBERT passages do, with equal mixture weights.
    Each doc also carries an indexed ``cat`` value and a stored
    ``title``."""

    def __init__(self, seed: int, n_docs: int, tokens: int, dim: int,
                 n_clusters: int, clusters_per_doc: int = 2,
                 n_cats: int = 5, noise: float = 0.1):
        self.rng = np.random.RandomState(seed)
        rng = self.rng
        centers = _unit(rng.randn(n_clusters, dim))
        # equal mixture weights: every cluster hosts the same number of
        # doc slots, so probe fan-out (and serve work) does not swing
        # with the seed's draw of cluster sizes
        slots = np.tile(np.arange(n_clusters), -(-n_docs * clusters_per_doc // n_clusters))
        doc_clusters = rng.permutation(slots)[: n_docs * clusters_per_doc].reshape(
            n_docs, clusters_per_doc)
        pick = rng.randint(0, clusters_per_doc, size=(n_docs, tokens))
        assign = np.take_along_axis(doc_clusters, pick, axis=1)
        self.tokens = _unit(
            centers[assign] + noise * rng.randn(n_docs, tokens, dim)
        ).astype(np.float32)
        self.doc_ids = np.arange(n_docs, dtype=np.int64)
        self.cats = rng.randint(0, n_cats, size=n_docs).astype(np.int64)
        self.n_cats = n_cats

    def frame(self, rows: np.ndarray, tenant: int = 0):
        """pandas rows in the index's ingest column order."""
        import pandas as pd

        return pd.DataFrame(
            {
                "tenant": np.full(len(rows), tenant, dtype=np.int64),
                "doc_id": self.doc_ids[rows],
                "cat": self.cats[rows],
                "title": [f"doc-{i}" for i in self.doc_ids[rows]],
                "emb": [list(t) for t in self.tokens[rows]],
            }
        )

    def queries(self, n: int, tokens: int, pool: np.ndarray, noise: float = 0.08) -> dict:
        """{qid: (tokens, dim) float32}: query qid is a noised copy of
        corpus doc qid, tiled to ``tokens`` rows; the qids are drawn
        from the doc ids in ``pool``."""
        rng = self.rng
        qids = rng.choice(pool, size=n, replace=False)
        out = {}
        for q in qids:
            base = self.tokens[q]
            reps = -(-tokens // base.shape[0])
            m = np.tile(base, (reps, 1))[:tokens]
            out[int(q)] = _unit(m + noise * rng.randn(*m.shape)).astype(np.float32)
        return out


CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus",
                      "documents.parquet")


class TextCorpus:
    """Documents drawn from a copy of the ``text`` column of the repo's
    sf0.1 ``documents`` test table (``corpus/documents.parquet``, 5000
    texts). Each tenant gets its own seeded order of the texts; update
    batches mix unseen texts with word-edited copies of stored docs, so
    pair verification and df-cap drift do real work."""

    def __init__(self, seed: int, path: str = CORPUS):
        import pyarrow.parquet as pq

        self.rng = np.random.RandomState(seed)
        self.texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
        self.words = sorted({w for t in self.texts for w in t.split()})
        self.next_id: dict[int, int] = {}
        self.unseen: dict[int, list[int]] = {}
        self.live: dict[int, dict[int, str]] = {}

    def _order(self, tenant: int) -> list[int]:
        if tenant not in self.unseen:
            self.unseen[tenant] = self.rng.permutation(len(self.texts)).tolist()
        return self.unseen[tenant]

    def _edited(self, text: str, edits: int = 2) -> str:
        words = text.split()
        for _ in range(edits):
            words[self.rng.randint(len(words))] = self.words[self.rng.randint(len(self.words))]
        return " ".join(words)

    def _copy_of_live(self, tenant: int) -> str:
        pool = self.live[tenant]
        keys = sorted(pool)
        return self._edited(pool[keys[self.rng.randint(len(keys))]])

    def batch(self, tenant: int, n: int, copies: float = 0.3):
        """``n`` new docs for ``tenant`` (fresh ids, registered as live):
        a ``copies`` share are edited copies of live docs, the rest
        texts the tenant has not stored yet."""
        import pandas as pd

        live = self.live.setdefault(tenant, {})
        order = self._order(tenant)
        start = self.next_id.get(tenant, 0)
        ids = np.arange(start, start + n, dtype=np.int64)
        self.next_id[tenant] = start + n
        texts = [
            self._copy_of_live(tenant) if live and self.rng.rand() < copies
            else self.texts[order.pop()]
            for _ in range(n)
        ]
        live.update(zip(ids.tolist(), texts))
        return pd.DataFrame({"doc_id": ids, "text": texts})

    def incoming(self, tenant: int, n: int, first_id: int):
        """A batch to gate against the store, not registered as live:
        half edited copies of live docs, half texts the tenant has not
        stored."""
        import pandas as pd

        order = self._order(tenant)
        texts = [
            self._copy_of_live(tenant) if i % 2
            else self.texts[order[self.rng.randint(len(order))]]
            for i in range(n)
        ]
        return pd.DataFrame(
            {"doc_id": np.arange(first_id, first_id + n, dtype=np.int64), "text": texts}
        )
