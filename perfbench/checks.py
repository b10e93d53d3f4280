"""Output checks. Each takes plain collected data (no Spark), so the
same functions judge a real run and the corrupted copies the
self-test feeds them.

A check is a dict {"name", "ok", "detail"}; a run is correct only if
every check is ok."""

from __future__ import annotations

import copy

import numpy as np


def _check(name: str, ok: bool, detail: str = "") -> dict:
    return {"name": name, "ok": bool(ok), "detail": detail}


# ---------------------------------------------------------------- vectors


def exact_maxsim_topk(doc_tokens: np.ndarray, queries: dict, k: int) -> dict:
    """{qid: [doc_id, ...]} top-k by exact MaxSim (sum over query
    tokens of the max inner product with any doc token), ties broken
    by doc id. doc_tokens: (n_docs, tokens, dim); doc id = row."""
    n, t, d = doc_tokens.shape
    flat = doc_tokens.reshape(n * t, d).T.astype(np.float32)
    out = {}
    for qid, q in queries.items():
        s = (q @ flat).reshape(q.shape[0], n, t).max(axis=2).sum(axis=0)
        order = np.lexsort((np.arange(n), -s))
        out[qid] = [int(i) for i in order[:k]]
    return out


def recall_at_k(got: dict, exact: dict, k: int) -> float:
    hits = sum(len(set(got.get(q, [])[:k]) & set(ids)) for q, ids in exact.items())
    return hits / float(k * len(exact))


def success_at_k(got: dict, exact: dict, k: int) -> float:
    """Share of queries whose exact top-1 is in the returned top-k."""
    return sum(ids[0] in got.get(q, [])[:k] for q, ids in exact.items()) / len(exact)


def verify_index_serve(out: dict) -> list[dict]:
    """out: k, qids, batches (list of {qid: ranked doc ids}), exact
    ({qid: exact top-k}), min_recall, min_success, http (list of
    {"qid", "cat", "ids"}), cats (doc id -> cat), added (list of
    {"doc_id", "mapping", "expected"}: centroid ids in the index and
    from the doc's tokens)."""
    k, qids = out["k"], out["qids"]
    results = out["batches"]
    bad = [
        (i, q)
        for i, r in enumerate(results)
        for q in qids
        if len(r.get(q, [])) != k or len(set(r.get(q, []))) != k
    ]
    extra = [q for r in results for q in r if q not in set(qids)]
    checks = [
        _check(
            "batch_k_rows_per_qid",
            results and not bad and not extra,
            f"{len(results)} batches; bad={bad[:3]} unknown={extra[:3]}",
        )
    ]
    first = results[0] if results else {}
    checks.append(
        _check("batches_agree", all(r == first for r in results),
               "every batch ranks the same docs per qid")
    )
    last = results[-1] if results else {}
    rec = recall_at_k(last, out["exact"], k)
    checks.append(
        _check("recall_at_k_vs_exact_maxsim", rec >= out["min_recall"],
               f"recall@{k}={rec:.4f} (min {out['min_recall']})")
    )
    suc = success_at_k(last, out["exact"], k)
    checks.append(
        _check("exact_top1_in_top_k", suc >= out["min_success"],
               f"success@{k}={suc:.4f} (min {out['min_success']})")
    )
    cats = out["cats"]
    bad_http = []
    for h in out["http"]:
        ids = h["ids"]
        if len(ids) != k or len(set(ids)) != k:
            bad_http.append((h["qid"], "rows", len(ids)))
        elif any(cats[i] != h["cat"] for i in ids):
            bad_http.append((h["qid"], "cat", h["cat"]))
    checks.append(
        _check("http_k_rows_and_term_filter", out["http"] and not bad_http,
               f"{len(out['http'])} TERM-filtered requests; bad={bad_http[:3]}")
    )
    bad_add = [a["doc_id"] for a in out["added"] if not a["mapping"] or a["mapping"] != a["expected"]]
    checks.append(
        _check("added_docs_mapped_to_nearest_centroids", out["added"] and not bad_add,
               f"{len(out['added'])} added docs looked up; bad={bad_add}")
    )
    return checks


def corrupt_index_serve(out: dict) -> list[tuple[str, dict]]:
    """Copies of ``out`` each broken in one way the checks must catch."""
    cases = []
    c = copy.deepcopy(out)
    q = c["qids"][0]
    c["batches"][0][q] = c["batches"][0][q][:-1]
    cases.append(("batch_missing_row", c))
    c = copy.deepcopy(out)
    c["batches"][-1][q] = list(reversed(c["batches"][-1][q]))
    cases.append(("later_batch_reordered", c))
    c = copy.deepcopy(out)
    n_docs = len(c["cats"])
    for r in c["batches"]:
        for qq in r:
            r[qq] = [(i * 7919 + 13) % n_docs for i in range(len(r[qq]))]
    cases.append(("batch_results_scrambled", c))
    c = copy.deepcopy(out)
    h = c["http"][0]
    wrong = next(i for i in range(n_docs) if c["cats"][i] != h["cat"] and i not in h["ids"])
    h["ids"][-1] = wrong
    cases.append(("http_filter_violated", c))
    c = copy.deepcopy(out)
    c["added"][0]["mapping"] = []
    cases.append(("added_doc_missing", c))
    return cases


# ------------------------------------------------------------------ dedup


def _sorted_rows(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


def verify_dedup_update(out: dict) -> list[dict]:
    """out: stream {"dropped", "after_stream", "after_replay"} and
    tenants {t: {"docs", "expected_docs", "signatures",
    "scratch_signatures", "pairs", "scratch_pairs"}}."""
    s = out["stream"]
    checks = [
        _check(
            "stream_exactly_once",
            s["dropped"] == s["after_stream"] == s["after_replay"],
            f"dropped={s['dropped']} after_stream={s['after_stream']} "
            f"after_replay={s['after_replay']}",
        )
    ]
    for t, v in sorted(out["tenants"].items()):
        checks.append(
            _check(f"tenant{t}_live_doc_count", v["docs"] == v["expected_docs"],
                   f"store={v['docs']} expected={v['expected_docs']}")
        )
        for table in ("signatures", "pairs"):
            got, want = _sorted_rows(v[table]), _sorted_rows(v[f"scratch_{table}"])
            checks.append(
                _check(
                    f"tenant{t}_{table}_equal_scratch_build",
                    got == want and len(want) > 0,
                    f"store={len(got)} scratch={len(want)} rows",
                )
            )
    return checks


def corrupt_dedup_update(out: dict) -> list[tuple[str, dict]]:
    cases = []
    t = sorted(out["tenants"])[0]
    c = copy.deepcopy(out)
    c["tenants"][t]["signatures"] = c["tenants"][t]["signatures"][1:]
    cases.append(("signature_row_missing", c))
    c = copy.deepcopy(out)
    sig = list(c["tenants"][t]["signatures"][0])
    sig[1] += 1
    c["tenants"][t]["signatures"][0] = tuple(sig)
    cases.append(("signature_value_changed", c))
    c = copy.deepcopy(out)
    pair = list(c["tenants"][t]["pairs"][0])
    pair[-1] = pair[-1] * 0.5
    c["tenants"][t]["pairs"][0] = tuple(pair)
    cases.append(("pair_jaccard_changed", c))
    c = copy.deepcopy(out)
    c["stream"]["after_replay"] += c["stream"]["dropped"]
    cases.append(("stream_replay_duplicated", c))
    return cases


def self_test(verify, corrupt, out: dict) -> list[dict]:
    """Every corrupted copy of a passing output must fail a check."""
    res = []
    for name, bad in corrupt(out):
        failed = [c["name"] for c in verify(bad) if not c["ok"]]
        res.append(_check(f"selftest_{name}_is_caught", bool(failed),
                          f"failing checks: {failed}"))
    return res
