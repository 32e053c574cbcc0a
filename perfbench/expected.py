"""Expected results from the NumPy reference implementations, and the checks.

The reference indexes (``oracle.bm25_ref`` / ``oracle.bmx_ref``) are built
once per (workload, seed, size) and their answers are cached as JSON, so the
cost stays outside every timed region of every later run with that seed.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np

# Extra reference results kept past top-k, so a near-tie that crosses the
# k-th position is still recognised by the rank check.
MARGIN = 10
# Relative score tolerance inside which two documents count as tied for the
# rank check of the non-parity kernels (float64 sums or BMX arithmetic
# against the reference's float32 accumulation differ by a few ulps).
REL_TIE = 4e-6


def canonical_top(dense: np.ndarray, n: int) -> list[int]:
    """Canonical order (score desc, doc index asc) of the positive scores."""
    order = np.lexsort((np.arange(len(dense)), -dense.astype(np.float64)))
    return [int(i) for i in order[:n] if dense[i] > 0]


def reference_bm25(keys: list[str], tokens: list[list[str]], config):
    from baguetter_spark.oracle import OracleBM25Index

    return OracleBM25Index(config).add_many(keys, tokens)


def bm25_answers(oracle, queries: dict[str, str], k: int) -> dict[str, list]:
    from baguetter_spark.oracle.bm25_ref import oracle_calculate_scores_dense

    out = {}
    for qid, text in queries.items():
        ids = oracle.to_token_ids(oracle._process(text))
        dense = oracle_calculate_scores_dense(oracle.index, ids)
        out[qid] = [
            [oracle.key_mapping[i], float(dense[i])] for i in canonical_top(dense, k + MARGIN)
        ]
    return out


def bmx_answers(keys, tokens, config, queries: dict[str, str], k: int) -> dict[str, list]:
    from baguetter_spark.oracle.bmx_ref import OracleBMXIndex, oracle_bmx_scores_dense

    oracle = OracleBMXIndex(config).add_many(keys, tokens)
    out = {}
    for qid, text in queries.items():
        ids = oracle.to_token_ids(oracle._process(text))
        dense = oracle_bmx_scores_dense(
            oracle.index, ids, alpha=config.alpha, beta=config.beta, dtype=config.dtype
        )
        out[qid] = [
            [oracle.key_mapping[i], float(dense[i])] for i in canonical_top(dense, k + MARGIN)
        ]
    return out


def cached(path: Path, compute):
    """Load the JSON at ``path`` or compute, store and return it."""
    if path.exists():
        return json.loads(path.read_text())
    value = compute()
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(value))
    tmp.replace(path)
    return value


def by_query(rows) -> dict[str, list]:
    """Collected ``(query_id, rank, doc_id, score)`` rows -> per-query lists
    in rank order."""
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


def exact_mismatches(got: dict[str, list], want: dict[str, list], k: int) -> int:
    """Queries whose top-k differs from the reference in any doc id or in
    any float32 score bit."""
    bad = 0
    for qid, ref in want.items():
        ref = ref[:k]
        res = got.get(qid, [])
        ok = len(res) == len(ref) and all(
            d == rd and np.float32(s) == np.float32(rs)
            for (d, s), (rd, rs) in zip(res, ref)
        )
        bad += not ok
    bad += len(set(got) - set(want))
    return bad


def rank_mismatches(got: dict[str, list], want: dict[str, list], k: int) -> int:
    """Queries whose top-k is not the reference's ranking.

    Rank i must hold a distinct document whose reference score equals the
    reference's i-th score within ``REL_TIE``: documents tied up to rounding
    may trade places, nothing else may move.
    """
    bad = 0
    for qid, ref in want.items():
        ref_score = dict((d, s) for d, s in ref)
        res = got.get(qid, [])
        ok = len(res) == min(k, len(ref)) and len({d for d, _ in res}) == len(res)
        for (d, _), (_, rs) in zip(res, ref):
            s = ref_score.get(d)
            ok = ok and s is not None and abs(s - rs) <= REL_TIE * abs(rs)
        bad += not ok
    bad += len(set(got) - set(want))
    return bad
