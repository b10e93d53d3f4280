#!/usr/bin/env python3
"""Offline self-test of the output checks (no Spark, a few seconds).

    python3 perfbench/selftest.py

Builds small synthetic outputs of both workloads that must pass the
checks, then every corrupted copy from checks.corrupt_* must fail them.
Exits 1 if a clean output fails or a corrupted one passes. Every
benchmark run repeats the corrupted-copy half on its real outputs."""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks  # noqa: E402
from perfbench.data import VectorCorpus  # noqa: E402


def index_outputs() -> dict:
    k = 10
    corpus = VectorCorpus(7, 200, 8, 16, 8)
    queries = corpus.queries(12, 16, pool=corpus.doc_ids)
    qids = sorted(queries)
    exact = checks.exact_maxsim_topk(corpus.tokens, queries, k)
    cats = corpus.cats.tolist()
    http = []
    for q in qids[:4]:
        cat = cats[q]
        http.append({"qid": q, "cat": cat, "ids": [d for d in range(200) if cats[d] == cat][:k]})
    return {"k": k, "qids": qids, "batches": [dict(exact), dict(exact)],
            "exact": exact, "min_recall": 0.35, "min_success": 0.95,
            "http": http, "cats": cats,
            "added": [{"doc_id": 3, "mapping": [1, 4], "expected": [1, 4]}]}


def dedup_outputs() -> dict:
    rng = np.random.RandomState(3)
    sigs = [tuple([i, *rng.randint(0, 2**31, size=16).tolist()]) for i in range(50)]
    pairs = [(1, 2, 40, 0.8), (3, 9, 31, 0.62)]
    tenant = {"docs": 50, "expected_docs": 50, "signatures": sigs,
              "scratch_signatures": list(reversed(sigs)), "pairs": pairs,
              "scratch_pairs": list(pairs)}
    return {"stream": {"dropped": 50, "after_stream": 50, "after_replay": 50},
            "tenants": {0: tenant}}


def main() -> int:
    ok = True
    for name, out, verify, corrupt in (
        ("index_serve", index_outputs(), checks.verify_index_serve, checks.corrupt_index_serve),
        ("dedup_update", dedup_outputs(), checks.verify_dedup_update, checks.corrupt_dedup_update),
    ):
        failing = [c for c in verify(out) if not c["ok"]]
        print(f"{name}: clean output {'passes' if not failing else 'FAILS'} "
              f"{[c['name'] for c in failing]}")
        ok &= not failing
        for c in checks.self_test(verify, corrupt, out):
            print(f"  {c['name']}: {'ok' if c['ok'] else 'NOT CAUGHT'} ({c['detail']})")
            ok &= c["ok"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
