"""Correctness checks on engine answers.

Each check takes the engine's answer as a pandas frame (or plain arrays)
plus the ground truth, and returns a list of problems; an empty list means
the answer is correct. The workloads count an operation as failed when any
of its checks reports a problem.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench.data import unit_rows


def check_topk(res: pd.DataFrame, qids, k: int) -> list[str]:
    """Structure of a (qid, id, score, rank) top-k answer: exactly k rows per
    query, ranks 1..k, scores not increasing with rank, ids unique."""
    problems = []
    groups = {q: g for q, g in res.groupby("qid")}
    for q in qids:
        g = groups.get(q)
        if g is None or len(g) != k:
            problems.append(f"qid {q}: {0 if g is None else len(g)} rows, want {k}")
            continue
        g = g.sort_values("rank")
        if g["rank"].tolist() != list(range(1, k + 1)):
            problems.append(f"qid {q}: ranks {g['rank'].tolist()}")
        if np.any(np.diff(g["score"].to_numpy()) > 1e-12):
            problems.append(f"qid {q}: scores increase with rank")
        if g["id"].nunique() != k:
            problems.append(f"qid {q}: duplicate ids")
    extra = set(groups) - set(qids)
    if extra:
        problems.append(f"unexpected qids {sorted(extra)[:5]}")
    return problems


def recall_at_k(res: pd.DataFrame, qids, true_ids: np.ndarray, k: int) -> float:
    """Mean |answer ∩ truth| / k over ``qids`` (row i of ``true_ids``)."""
    got = res.groupby("qid")["id"].apply(set).to_dict()
    hits = [len(got.get(q, set()) & set(true_ids[i, :k].tolist())) for i, q in enumerate(qids)]
    return float(np.sum(hits)) / (k * len(qids))


def check_exact(res: pd.DataFrame, qids, true_ids: np.ndarray,
                true_scores: np.ndarray, tol: float = 1e-5) -> list[str]:
    """An exact top-k answer against brute force: the same ids (a swap is
    allowed only between rows whose true scores tie within ``tol`` at the
    k-th place) and every score within ``tol`` of its true value."""
    problems = []
    groups = {q: g for q, g in res.groupby("qid")}
    for i, q in enumerate(qids):
        g = groups.get(q)
        if g is None:
            problems.append(f"qid {q}: no rows")
            continue
        want = dict(zip(true_ids[i].tolist(), true_scores[i].tolist()))
        kth = float(true_scores[i, -1])
        got = dict(zip(g["id"].tolist(), g["score"].tolist()))
        if len(got) != len(want):
            problems.append(f"qid {q}: {len(got)} ids, want {len(want)}")
        for rid, s in got.items():
            if rid in want:
                if abs(s - want[rid]) > tol:
                    problems.append(f"qid {q}: id {rid} score {s} != {want[rid]}")
            elif abs(s - kth) > tol:
                problems.append(f"qid {q}: id {rid} not in the exact top-k")
    return problems


def check_dedup(pairs: pd.DataFrame, injected: list[tuple[int, int]],
                x: np.ndarray, ids: np.ndarray, min_score: float,
                tol: float = 1e-6) -> list[str]:
    """Threshold pairs (qid, id, score) against the injected near-duplicates:
    every injected pair is found, and numpy re-scores every returned pair at
    or above ``min_score``."""
    problems = []
    a = pairs["qid"].to_numpy(np.int64)
    b = pairs["id"].to_numpy(np.int64)
    keep = a != b
    lo, hi = np.minimum(a[keep], b[keep]), np.maximum(a[keep], b[keep])
    found = set(zip(lo.tolist(), hi.tolist()))
    pos = {int(v): i for i, v in enumerate(ids)}
    want = {(int(ids[s]), int(ids[c])) for s, c in injected}
    missing = want - found
    if missing:
        problems.append(f"{len(missing)} injected pairs missing, e.g. {sorted(missing)[:3]}")
    if found:
        pa_, pb_ = zip(*sorted(found))
        xa = x[[pos[i] for i in pa_]]
        xb = x[[pos[i] for i in pb_]]
        s = (1.0 + np.sum(unit_rows(xa) * unit_rows(xb), axis=1)) / 2.0
        bad = int(np.sum(s < min_score - tol))
        if bad:
            problems.append(f"{bad} returned pairs score below {min_score}")
    return problems


def check_churn_search(res: pd.DataFrame, deleted: set, self_hits: dict) -> list[str]:
    """A search after writes: no deleted id comes back, and each query in
    ``self_hits`` (qid -> id of the appended row it copies) has that row as
    its rank-1 hit."""
    problems = []
    back = set(res["id"].tolist()) & deleted
    if back:
        problems.append(f"deleted ids returned: {sorted(back)[:5]}")
    top = res[res["rank"] == 1].set_index("qid")["id"].to_dict()
    for q, rid in self_hits.items():
        if top.get(q) != rid:
            problems.append(f"qid {q}: rank-1 {top.get(q)}, want appended row {rid}")
    return problems


def check_live_set(got: tuple[int, int], want: tuple[int, int]) -> list[str]:
    """The reopened index's (count, xor-hash) live-id digest equals the
    acknowledged one."""
    if got != want:
        return [f"live set after reload {got} != acknowledged {want}"]
    return []

