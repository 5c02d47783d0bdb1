"""Correctness checks: the oracle gate and the per-operation structural
check.

The gate compares the engine with ``oracle.engine.OracleIndex``, the
repository's pure-Python reference, on the very index a workload times
and on the rows its timed searches returned: same doc ids in the same
rank order, and float32-identical scores.
"""

from __future__ import annotations

import numpy as np


class Mismatch(Exception):
    pass


def structural_errors(rows: list, k: int) -> list[str]:
    """Why a result list of one query is malformed: ranks not 1..n, a
    score higher than the one ranked above it, a repeated doc_id, or more
    than k rows."""
    errs = []
    if len(rows) > k:
        errs.append(f"{len(rows)} rows > k={k}")
    if [r["rank"] for r in rows] != list(range(1, len(rows) + 1)):
        errs.append("ranks are not 1..n")
    scores = [r["score"] for r in rows]
    if any(b > a for a, b in zip(scores, scores[1:])):
        errs.append("scores increase with rank")
    if len({r["doc_id"] for r in rows}) != len(rows):
        errs.append("duplicate doc_id")
    return errs


def batch_errors(rows: list, n_queries: int, k: int) -> list[str]:
    by_q: dict[int, list] = {q: [] for q in range(n_queries)}
    errs = []
    for r in rows:
        if r["query_id"] not in by_q:
            errs.append(f"unknown query_id {r['query_id']}")
            continue
        by_q[r["query_id"]].append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        errs += [f"query {q}: {e}" for e in structural_errors(rs, k)]
    return errs


def compare(label: str, got: list, want: list[dict]) -> None:
    """Engine rows vs oracle hits: rank, doc_id and float32 score equal."""
    g = [(r["rank"], r["doc_id"], np.float32(r["score"])) for r in got]
    w = [(h["rank"], h["doc_id"], np.float32(h["score"])) for h in want]
    if g != w:
        raise Mismatch(f"{label}: engine {g[:3]}... != oracle {w[:3]}...")


def compare_batch(oracle, queries: list[dict], rows: list, k: int,
                  first: int) -> None:
    """``search_many`` rows of the ``first`` queries against the oracle."""
    for i, q in enumerate(queries[:first]):
        got = sorted((r for r in rows if r["query_id"] == i),
                     key=lambda r: r["rank"])
        compare(f"batch {q!r}", got,
                oracle.search(q["query"], q.get("filters", ()), k=k))


def oracle_after_upsert(base_docs: list[dict], base_parts: int,
                        delta_docs: list[dict], delta_parts: int):
    """The oracle twin of one upsert: a second generation holding the new
    versions, with the replaced first-generation copies tombstoned by
    ordinal (old and new copies share a doc_id, so ``delete_by_ids``
    would remove both)."""
    from spyglass_spark.oracle.engine import OracleIndex

    oracle = OracleIndex.build_generations([(base_docs, base_parts),
                                            (delta_docs, delta_parts)])
    replaced = {d["url"] for d in delta_docs}
    n_base = len(base_docs)
    for ord_, d in enumerate(oracle.docs[:n_base]):
        if d["url"] in replaced:
            oracle.tombstoned.add(ord_)
    return oracle
