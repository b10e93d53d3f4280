"""index_serve: build an index, then serve it.

Build = Index.create + train on a seeded sample + one seed ``add`` of
most of the corpus, so the served index has one segment. Then one first
``search_batch`` fills the serve caches. Serve = a closed loop with one
client: each round is a warm ``search_batch`` and two single searches
over loopback HTTP, each AND-ed with a ``cat`` TERM, for --seconds. Commits = a few small ``add`` calls of the
rest of the corpus after serving. The serve cascade does nearly all the
work; the dedup store is idle."""

from __future__ import annotations

import json
import os
import urllib.request

import numpy as np

from perfbench import checks
from perfbench.data import VectorCorpus

N_DOCS = 1000
SEED_DOCS = 700
ADDS = 3  # the other docs arrive in this many timed adds after serving
TOKENS = 16
DIM = 64
CENTROIDS = 64
TRAIN_DOCS = 128
BATCH_QUERIES = 250
QUERY_TOKENS = 32
K = 10
MIN_ROUNDS = 3
HTTP_PER_ROUND = 2
# exact ranks 2-10 are near-ties among docs sharing a cluster with the
# query, so recall@10 sits near 0.72 while the true doc is top-1
MIN_RECALL = 0.6
MIN_SUCCESS = 0.95
OPTS = {"n_probe": 8, "num_second_pass": 64, "centroid_score_threshold": 0.0}


def _ranked(rows) -> dict:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        out.setdefault(int(r["qid"]), []).append(int(r["doc_id"]))
    return out


def _http_search(port: int, q: np.ndarray, cat: int) -> list[int]:
    node = {"type": "AND", "children": [
        {"type": "TENSOR", "name": "emb", "value": q.ravel().tolist(),
         "num_tensors": int(q.shape[0])},
        {"type": "TERM", "name": "cat", "value": int(cat)},
    ]}
    body = json.dumps({"query": node, "k": K, "options": OPTS}).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/v1/Index/search/0", data=body,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        payload = json.loads(resp.read())
    if "results" not in payload:
        raise RuntimeError(f"search failed: {payload}")
    return [int(r["id"]) for r in payload["results"]]


def run(ctx) -> None:
    from lintdb_spark.index import Index, SearchOptions
    from lintdb_spark.index.schema import (
        DataType,
        FieldType,
        IndexedField,
        Schema,
        StoredField,
        TensorField,
    )
    from lintdb_spark.server import IndexServer

    spark, tr = ctx.spark, ctx.tracer
    path = os.path.join(ctx.work, "index")
    opts = SearchOptions(**OPTS)

    with tr.span("setup", kind="phase"):
        corpus = VectorCorpus(ctx.seed, N_DOCS, TOKENS, DIM, CENTROIDS)
        order = ctx.rng.permutation(N_DOCS)
        seed_rows = np.sort(order[:SEED_DOCS])
        later = np.array_split(order[SEED_DOCS:], ADDS)
        # queries are noised copies of docs in the served index
        queries = corpus.queries(BATCH_QUERIES, QUERY_TOKENS, pool=seed_rows)
        qids = sorted(queries)
        schema = Schema([
            TensorField("emb", dimensions=DIM, roles=[FieldType.COLBERT],
                        quantization="binarizer", num_centroids=CENTROIDS, nbits=2),
            IndexedField("cat", DataType.INTEGER),
            StoredField("title", DataType.TEXT),
        ])
        ingest = schema.ingest_spark_schema()
        seed = spark.createDataFrame(corpus.frame(seed_rows), ingest)
        frames = [spark.createDataFrame(corpus.frame(b), ingest) for b in later]
        sample = spark.createDataFrame(
            corpus.frame(ctx.rng.choice(seed_rows, TRAIN_DOCS, replace=False)), ingest
        )
        with tr.span("build", kind="phase") as build:
            idx = tr.call("create", "create", Index.create, spark, path, schema,
                          required=True)
            tr.call("train", "train", idx.train, sample, store=path, required=True)
            tr.call("add_seed", "add_seed", idx.add, seed, store=path, required=True,
                    docs=SEED_DOCS)
        ctx.record("build_s", build["wall_s"])
        ctx.input_bytes = int(
            corpus.tokens.nbytes + 16 * N_DOCS
            + sum(len(f"doc-{i}".encode()) for i in corpus.doc_ids)
        )
        server = IndexServer(idx).start(prewarm=False)
        # the first batch on a built index fills its serve caches and
        # compiles its plans; the loop then times warm batches only
        tr.call("search_batch_first", "search_batch_first", lambda: idx.search_batch(
            0, "emb", queries, k=K, opts=opts).collect(), required=True)

    out = {"k": K, "qids": qids, "batches": [], "http": [],
           "min_recall": MIN_RECALL, "min_success": MIN_SUCCESS, "cats": corpus.cats.tolist()}
    try:
        ctx.setup_done()
        with tr.span("serve", kind="phase"):
            for n in ctx.rounds(MIN_ROUNDS):
                rows = tr.call(f"search_batch[{n}]", "search_batch", lambda: idx.search_batch(
                    0, "emb", queries, k=K, opts=opts).collect())
                if rows is not None:
                    out["batches"].append(_ranked(rows))
                for i in range(HTTP_PER_ROUND):
                    q = qids[(n * HTTP_PER_ROUND + i) % len(qids)]
                    cat = int(corpus.cats[q])
                    ids = tr.call(f"search_http[{n}.{i}]", "search_http", _http_search,
                                  server.port, queries[q], cat)
                    if ids is not None:
                        out["http"].append({"qid": q, "cat": cat, "ids": ids})
    finally:
        server.stop()
    with tr.span("commit", kind="phase"):
        for i, f in enumerate(frames):
            tr.call(f"add[{i}]", "add", idx.add, f, store=path, docs=len(later[i]))

    with tr.span("check", kind="phase"):
        # exact top-k over the docs the index served: seed_rows[j] is
        # the doc id of row j
        exact = checks.exact_maxsim_topk(corpus.tokens[seed_rows], queries, K)
        out["exact"] = {q: [int(seed_rows[j]) for j in ids] for q, ids in exact.items()}
        last = out["batches"][-1] if out["batches"] else {}
        ctx.extra["recall_at_10"] = checks.recall_at_k(last, out["exact"], K)
        ctx.extra["success_at_10"] = checks.success_at_k(last, out["exact"], K)
        ctx.extra["top1_agree"] = sum(
            last.get(q, [None])[0] == ids[0] for q, ids in out["exact"].items()) / len(qids)
        # one doc of each timed add: its centroid mapping in the index
        # must be the nearest centroids of its tokens
        centroids = idx.centroids["emb"]
        out["added"] = [
            {"doc_id": int(b[0]), "mapping": idx.get_mapping(0, int(b[0])),
             "expected": sorted({int(c) for c in (corpus.tokens[b[0]] @ centroids.T).argmax(axis=1)})}
            for b in later
        ]
        ctx.verify(checks.verify_index_serve, checks.corrupt_index_serve, out)

    ctx.record_samples("commit_s", tr.walls("add"))
    ctx.record_samples("read_s", tr.walls("search_batch"))
    ctx.record_samples("request_s", tr.walls("search_http"))
    for op in ("add_seed", "search_batch_first"):
        ctx.record_samples(f"{op}_s", tr.walls(op))
    ctx.extra["batch_qps"] = BATCH_QUERIES / float(np.median(tr.walls("search_batch")))
    ctx.store_dirs = [path]
