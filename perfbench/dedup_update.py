"""dedup_update: seed a dedup store, update it, then serve its queries.

Inputs are real texts (``perfbench/corpus``) and word-edited copies of
them, all for tenant 0. Build = DedupArtifacts.create, then the seed
through ``stream_artifacts`` (one parquet file drop, availableNow,
persistent checkpoint) and a replay of the finished stream. Commit =
one ``update`` batch mixing unseen texts with word-edited copies of
stored docs. Then one first ``dedup_gate`` and one first
``verified_pairs`` + ``cluster_map`` read fill the store's caches, and
serve = a closed loop with one client of steady gate + read pairs for
--seconds. The commit spine and the dedup kernels do nearly all the
work; the vector serve path is idle."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from perfbench import checks
from perfbench.data import TextCorpus

TENANT = 0  # stream_artifacts commits to tenant 0
SEED_DOCS = 300
SEED_COPIES = 90
UPDATE_DOCS = 250
GATE_DOCS = 500
MIN_READS = 4
GATE_ID_BASE = 10**9
PAIR_COLS = ("doc_a", "doc_b", "n_common", "jaccard")


def _stream_cycle(store, spark, drop: str, ckpt: str):
    from lintdb_spark.streaming.ingest import stream_artifacts

    src = spark.readStream.schema("doc_id long, text string").parquet(drop)
    q = stream_artifacts(store, src, ckpt)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return [p["durationMs"].get("addBatch", 0) / 1000.0 for p in q.recentProgress]


def _read(store, tenant: int) -> tuple[int, int]:
    return (store.verified_pairs(tenant=tenant).count(),
            store.cluster_map(tenant=tenant).count())


def _scratch(spark, live: dict, num_perms: int):
    """Signatures and verified pairs of a from-scratch build over the
    surviving docs, through the library's batch dedup operators."""
    from lintdb_spark.operators import dedup

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.array(sorted(live), dtype=np.int64),
                      "text": [live[i] for i in sorted(live)]}),
        "doc_id long, text string",
    )
    sh = dedup.doc_shingles(docs).persist()
    try:
        wide = dedup.minhash_wide(sh, num_perms)
        sig_cols = ["doc_id", *[f"m{i}" for i in range(num_perms)]]
        sigs = [tuple(r) for r in wide.select(*sig_cols).collect()]
        pairs = dedup.jaccard_verify_pairs(
            dedup.df_capped_shingles(sh), dedup.lsh_buckets_wide(wide, num_perms=num_perms),
            min_jaccard=0.5, min_overlap=2,
        )
        pairs = [tuple(r) for r in pairs.select(*PAIR_COLS).collect()]
    finally:
        sh.unpersist()
    return sigs, pairs


def run(ctx) -> None:
    from lintdb_spark.operators.artifacts import DedupArtifacts

    spark, tr = ctx.spark, ctx.tracer
    path = os.path.join(ctx.work, "store")
    drop = os.path.join(ctx.work, "drop")
    ckpt = os.path.join(ctx.work, "checkpoint")
    out = {"tenants": {}, "stream": {}}
    ingested = []

    def frame(pdf):
        ingested.append(pdf)
        return spark.createDataFrame(pdf, "doc_id long, text string")

    def gate(name: str, op: str, j: int) -> None:
        inc = spark.createDataFrame(
            corpus.incoming(TENANT, GATE_DOCS, GATE_ID_BASE + 1000 * j), "doc_id long, text string")
        tr.call(name, op, lambda: store.dedup_gate(inc, tenant=TENANT).count())

    with tr.span("setup", kind="phase"):
        corpus = TextCorpus(ctx.seed)
        os.makedirs(drop)
        # the seed holds edited copies of its own docs, so the store
        # serves pairs and clusters from the start
        seed = pd.concat([corpus.batch(TENANT, SEED_DOCS - SEED_COPIES, copies=0.0),
                          corpus.batch(TENANT, SEED_COPIES, copies=1.0)],
                         ignore_index=True)
        ingested.append(seed)
        seed.to_parquet(os.path.join(drop, "part-0.parquet"), index=False)
        with tr.span("build", kind="phase") as build:
            store = tr.call("create", "create", DedupArtifacts.create, spark, path,
                            required=True)
            add_batch = tr.call("stream_seed", "stream_cycle", _stream_cycle, store,
                                spark, drop, ckpt, store=path, required=True)
        ctx.record("build_s", build["wall_s"])
        cycle = tr.calls("stream_cycle")[0]["wall_s"]
        ctx.extra["streaming_trigger_overhead_s"] = cycle - sum(add_batch)
        out["stream"]["dropped"] = SEED_DOCS
        out["stream"]["after_stream"] = store.doc_ids(tenant=TENANT).count()
        # a replay of the finished stream must ingest nothing
        _stream_cycle(store, spark, drop, ckpt)
        out["stream"]["after_replay"] = store.doc_ids(tenant=TENANT).count()

    ctx.setup_done()
    with tr.span("commit", kind="phase"):
        batch = frame(corpus.batch(TENANT, UPDATE_DOCS))
        r = tr.call("update", "update", store.update, batch, None, TENANT,
                    store=path, docs=UPDATE_DOCS)
    # an update that compacted or folded reports it in its result
    maintenance = [tr.last["wall_s"]] if r and (r.get("compacted") or r.get("folded")) else []
    with tr.span("serve", kind="phase"):
        # the first gate and read after a commit fill the store's caches
        gate("dedup_gate_first", "dedup_gate_first", 0)
        tr.call("dedup_read_first", "dedup_read_first", _read, store, TENANT)
        for n in ctx.rounds(MIN_READS):
            gate(f"dedup_gate[{n}]", "dedup_gate", n + 1)
            tr.call(f"dedup_read[{n}]", "dedup_read", _read, store, TENANT)

    with tr.span("check", kind="phase"):
        live = corpus.live[TENANT]
        sig_cols = ["doc_id", *[f"m{i}" for i in range(store.num_perms)]]
        sigs, pairs = _scratch(spark, live, store.num_perms)
        out["tenants"][TENANT] = {
            "docs": store.doc_ids(tenant=TENANT).count(),
            "expected_docs": len(live),
            "signatures": [tuple(r) for r in
                           store.signatures(tenant=TENANT).select(*sig_cols).collect()],
            "scratch_signatures": sigs,
            "pairs": [tuple(r) for r in
                      store.verified_pairs(tenant=TENANT).select(*PAIR_COLS).collect()],
            "scratch_pairs": pairs,
        }
        ctx.verify(checks.verify_dedup_update, checks.corrupt_dedup_update, out)

    ctx.extra["maintenance_count"] = len(maintenance)
    ctx.extra["maintenance_s"] = sum(maintenance)
    ctx.record_samples("commit_s", tr.walls("update"))
    ctx.record_samples("read_s", tr.walls("dedup_read"))
    ctx.record_samples("request_s", tr.walls("dedup_gate"))
    for op in ("dedup_gate_first", "dedup_read_first"):
        ctx.record_samples(f"{op}_s", tr.walls(op))
    ctx.input_bytes = int(sum(
        8 * len(p) + sum(len(t.encode()) for t in p["text"]) for p in ingested))
    ctx.store_dirs = [path]
