"""Each correctness check accepts a right answer and rejects a wrong one."""

import numpy as np
import pandas as pd

from perfbench import checks, data


def corpus(n=300, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    x = data.clustered(rng, n, data.centers(rng, 10, dim), 0.3)
    return x, np.arange(n, dtype=np.int64)


def answer(qids, ids, scores):
    rows = [(q, int(i), float(s), r + 1)
            for q, row_i, row_s in zip(qids, ids, scores)
            for r, (i, s) in enumerate(zip(row_i, row_s))]
    return pd.DataFrame(rows, columns=["qid", "id", "score", "rank"])


def exact_answer(k=5):
    x, ids = corpus()
    q = x[:4]
    qids = np.arange(4)
    true_ids, true_scores = data.brute_topk(q, x, ids, k)
    return answer(qids, true_ids, true_scores), qids, true_ids, true_scores


def test_brute_topk_is_sorted_and_self_first():
    x, ids = corpus()
    top, scores = data.brute_topk(x[:5], x, ids, 4)
    assert (top[:, 0] == ids[:5]).all()
    assert np.all(np.diff(scores, axis=1) <= 0)


def test_topk_structure():
    res, qids, _, _ = exact_answer()
    assert checks.check_topk(res, qids, 5) == []
    assert checks.check_topk(res[res["rank"] < 5], qids, 5)            # too few rows
    bad = res.copy()
    bad.loc[bad["rank"] == 2, "rank"] = 7
    assert checks.check_topk(bad, qids, 5)                               # ranks not 1..k
    bad = res.copy()
    bad.loc[bad["rank"] == 5, "score"] = 2.0
    assert checks.check_topk(bad, qids, 5)                               # score increases
    bad = res.copy()
    bad.loc[bad["rank"] == 2, "id"] = bad.loc[bad["rank"] == 1, "id"].to_numpy()
    assert checks.check_topk(bad, qids, 5)                               # duplicate id
    assert checks.check_topk(res, qids[:3], 5)                           # unexpected qid


def test_recall():
    res, qids, true_ids, _ = exact_answer()
    assert checks.recall_at_k(res, qids, true_ids, 5) == 1.0
    wrong = res.assign(id=res["id"] + 1_000)
    assert checks.recall_at_k(wrong, qids, true_ids, 5) == 0.0


def test_exact_against_brute_force():
    res, qids, true_ids, true_scores = exact_answer()
    assert checks.check_exact(res, qids, true_ids, true_scores) == []
    bad = res.copy()
    bad.loc[0, "score"] += 1e-3
    assert checks.check_exact(bad, qids, true_ids, true_scores)          # score off
    bad = res.copy()
    bad.loc[0, "id"] = 999_999
    assert checks.check_exact(bad, qids, true_ids, true_scores)          # wrong id
    assert checks.check_exact(res[res["qid"] != 2], qids, true_ids, true_scores)


def test_dedup_pairs():
    x, ids = corpus()
    rng = np.random.default_rng(5)
    injected = data.inject_near_duplicates(rng, x, 0.02, 0.001)
    min_score = 0.99
    s = data.cosine_scores(x, x)
    a, b = np.nonzero(np.triu(s >= min_score, k=1))
    pairs = pd.DataFrame({"qid": ids[a], "id": ids[b], "score": s[a, b]})
    assert checks.check_dedup(pairs, injected, x, ids, min_score) == []
    missing = pairs[~((pairs["qid"] == injected[0][0]) & (pairs["id"] == injected[0][1]))]
    assert checks.check_dedup(missing, injected, x, ids, min_score)      # pair missing
    far = int(np.argmin(s[0]))
    extra = pd.concat([pairs, pd.DataFrame({"qid": [0], "id": [far], "score": [1.0]})])
    assert checks.check_dedup(extra, injected, x, ids, min_score)        # bogus pair


def test_search_after_writes():
    res, qids, _, _ = exact_answer()
    top1 = res[res["rank"] == 1].set_index("qid")["id"].to_dict()
    assert checks.check_churn_search(res, {999_999}, top1) == []
    returned = int(res["id"].iloc[3])
    assert checks.check_churn_search(res, {returned}, top1)              # deleted id back
    wrong = {q: i + 1 for q, i in top1.items()}
    assert checks.check_churn_search(res, set(), wrong)                  # not its own hit


def test_live_set_digest():
    acked = data.id_set_hash([1, 2, 3, 10])
    assert checks.check_live_set(data.id_set_hash([10, 3, 2, 1]), acked) == []
    assert checks.check_live_set(data.id_set_hash([1, 2, 3]), acked)
    assert checks.check_live_set(data.id_set_hash([1, 2, 3, 11]), acked)
