"""Independent ground truth: numpy exact top-k, a dict mirror of the
store, IVF probe/candidate sets, and exact shingle Jaccard for the planted
document families.  Nothing here imports the package under test."""

from __future__ import annotations

import numpy as np

SCORE_TOL = 1e-5  # the package rounds scores to 6 places
MIN_SCORE = 0.0  # the searches' default threshold: lower scores never return


def cosine(matrix: np.ndarray, q: np.ndarray) -> np.ndarray:
    m = matrix.astype(np.float64)
    qq = q.astype(np.float64)
    return (m @ qq) / (np.linalg.norm(m, axis=1) * np.linalg.norm(qq))


def _floor(got_scores: list[float], k: int) -> float:
    """The score every row left out must not beat: the k-th returned
    score, or the threshold when fewer than k rows passed it."""
    return min(got_scores) if len(got_scores) >= k else MIN_SCORE


def topk_ok(
    got_keys: list, got_scores: list[float], keys: list, scores: np.ndarray, k: int
) -> bool:
    """A returned top-k is correct when it is sorted, every score is the
    true cosine of its key and passes the threshold, and no key left out
    beats it.  Exact score ties may resolve either way."""
    if len(got_keys) > k or len(set(got_keys)) != len(got_keys):
        return False
    if any(a < b - SCORE_TOL for a, b in zip(got_scores, got_scores[1:])):
        return False
    pos = {key: i for i, key in enumerate(keys)}
    for key, s in zip(got_keys, got_scores):
        i = pos.get(key)
        if i is None or abs(scores[i] - s) > SCORE_TOL or s < MIN_SCORE - SCORE_TOL:
            return False
    floor = _floor(got_scores, k)
    chosen = set(got_keys)
    return not any(
        scores[pos[key]] > floor + SCORE_TOL for key in keys if key not in chosen
    )


def exact_topk(keys: list, matrix: np.ndarray, q: np.ndarray, k: int) -> list:
    s = cosine(matrix, q)
    order = np.argsort(-s, kind="stable")[:k]
    return [keys[i] for i in order if s[i] >= MIN_SCORE]


class StoreMirror:
    """The expected state of a ``VectorStore``: collection -> key ->
    (metadata, embedding)."""

    def __init__(self):
        self.rows: dict[str, dict[str, tuple[str, np.ndarray]]] = {}
        self._mat: dict[str, tuple[list, np.ndarray]] = {}

    def put(self, collection: str, key: str, metadata: str, emb: np.ndarray):
        self.rows.setdefault(collection, {})[key] = (metadata, emb)
        self._mat.pop(collection, None)

    def delete(self, collection: str, key: str):
        self.rows.get(collection, {}).pop(key, None)
        self._mat.pop(collection, None)

    def matrix(self, collection: str) -> tuple[list, np.ndarray]:
        if collection not in self._mat:
            rows = self.rows.get(collection, {})
            keys = list(rows)
            mat = (
                np.stack([rows[k][1] for k in keys])
                if keys
                else np.zeros((0, 1), np.float32)
            )
            self._mat[collection] = (keys, mat)
        return self._mat[collection]

    def size(self, collection: str) -> int:
        return len(self.rows.get(collection, {}))

    def user_bytes(self) -> int:
        """Bytes a user handed the store for the rows now live: key and
        metadata as UTF-8 plus 4 bytes per float32 element."""
        return sum(
            len(k.encode()) + len(m.encode()) + 4 * e.size
            for rows in self.rows.values()
            for k, (m, e) in rows.items()
        )


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


class IvfTruth:
    """Expected IVF behaviour for a fixed quantizer: which list each row
    lands in, which lists each query probes, and the exact top-k over the
    probed candidates.  Rows or queries whose assignment is a near tie
    (floating-point order could flip it) are tracked so that checks
    accept either outcome."""

    TIE = 1e-9

    def __init__(self, centroids: np.ndarray):
        self.c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
        self.ids = np.zeros(0, np.int64)
        self.unit = np.zeros((0, centroids.shape[1]))
        self.lists = np.zeros(0, np.int64)
        self.sure = np.zeros(0, bool)

    def add(self, ids, vecs: np.ndarray):
        v = vecs.astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        s = v @ self.c.T
        order = np.argsort(-s, axis=1, kind="stable")
        r = np.arange(len(s))
        self.ids = np.concatenate([self.ids, np.asarray(ids, np.int64)])
        self.unit = np.concatenate([self.unit, v])
        self.lists = np.concatenate([self.lists, order[:, 0]])
        self.sure = np.concatenate(
            [self.sure, s[r, order[:, 0]] - s[r, order[:, 1]] > self.TIE]
        )

    def check_query(
        self, q: np.ndarray, n_probe: int, k: int, got_ids: list, got_scores: list
    ) -> tuple[bool, int, float]:
        """(correct, candidate count, recall@k against exact search) for
        one query's returned top-k."""
        qu = q.astype(np.float64) / np.linalg.norm(q)
        cs = self.c @ qu
        corder = np.argsort(-cs, kind="stable")
        sure_q = (
            n_probe >= len(cs) or cs[corder[n_probe - 1]] - cs[corder[n_probe]] > self.TIE
        )
        in_probe = np.isin(self.lists, corder[:n_probe])
        n_cand = int(in_probe.sum())
        scores = self.unit @ qu
        top = np.argsort(-scores, kind="stable")[:k]
        exact = set(self.ids[top[scores[top] >= MIN_SCORE]].tolist())
        recall = len(exact & set(got_ids)) / len(exact) if exact else 1.0
        pos = {int(i): j for j, i in enumerate(self.ids)}
        ok = len(set(got_ids)) == len(got_ids) <= k and not any(
            a < b - SCORE_TOL for a, b in zip(got_scores, got_scores[1:])
        )
        for i, s in zip(got_ids, got_scores):
            j = pos.get(i)
            if not ok or j is None or abs(scores[j] - s) > SCORE_TOL:
                return False, n_cand, recall
            if sure_q and self.sure[j] and not in_probe[j]:
                return False, n_cand, recall  # came from an unprobed list
        if sure_q:
            floor = _floor(got_scores, k)
            missed = in_probe & self.sure & (scores > floor + SCORE_TOL)
            missed &= ~np.isin(self.ids, list(got_ids))
            if missed.any():
                return False, n_cand, recall
        return True, n_cand, recall


# ---------------------------------------------------------------------------
# near-duplicate documents
# ---------------------------------------------------------------------------


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def family_pairs(
    texts: list[str], family: list[int], ids, threshold: float
) -> tuple[set[tuple[int, int]], set[tuple[int, int]]]:
    """Within-family pairs among ``ids`` whose exact Jaccard meets
    ``threshold``: ``(exact pairs, all pairs)``, each as (low, high)."""
    fam: dict[int, list[int]] = {}
    for i in ids:
        fam.setdefault(family[i], []).append(i)
    exact, near = set(), set()
    for members in fam.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                if texts[a] == texts[b]:
                    exact.add((a, b))
                    near.add((a, b))
                elif jaccard(texts[a], texts[b]) >= threshold:
                    near.add((a, b))
    return exact, near


def check_groups(
    group_of: dict[int, int], family: list[int], exact: set, near: set
) -> tuple[bool, float]:
    """(correct, planted-pair recall) for a ``near_dedup`` result.

    Correct means: every doc is labelled with the smallest id of its
    group, no group joins two planted families, and every exact copy
    shares its source's group.  Recall is the share of planted pairs with
    Jaccard >= threshold that share a group (LSH may miss a few)."""
    members: dict[int, list[int]] = {}
    for i, g in group_of.items():
        members.setdefault(g, []).append(i)
    for g, ms in members.items():
        if min(ms) != g or len({family[i] for i in ms}) != 1:
            return False, 0.0
    if any(group_of.get(a) != group_of.get(b) for a, b in exact):
        return False, 0.0
    hit = sum(group_of.get(a) == group_of.get(b) for a, b in near)
    return True, (hit / len(near)) if near else 1.0
