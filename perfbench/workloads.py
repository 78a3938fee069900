"""The benchmark workloads.

Each workload is a single closed-loop client of the package's public API:
it issues its next call only after the previous one returned and its
answer was checked against ground truth.  A workload exposes

* ``setup()``  — generate inputs and build the fixture state from scratch;
* ``warm()``   — one call of every operation type, untimed;
* ``step()``   — one cycle of the operation mix.  It yields after every
  call, so the run can stop on time; it yields ``True`` where the timings
  gathered since the last ``True`` form complete samples;
* ``finish()`` — final state check and the layer metrics it can see.

Timings land in ``self.samples`` under three roles shared by all
workloads — ``query``, ``write`` and ``bulk`` — so every end-to-end
metric exists on every workload (see README.md for the role map).  A
sample is the summed time of a role's calls between two commit points.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import sys
import traceback

import numpy as np

import gen
import truth

K = 10  # top-k everywhere
SIZES = {
    # rows / docs per workload; "tiny" is the smoke-test size
    "full": {
        "store_rows": 6000, "upsert_rows": 500, "delete_keys": 50,
        "batch_queries": 8, "knn_per_cycle": 12,
        "docs": 4000, "batch_docs": 200, "lists": 32, "queries": 32, "probe": 4,
    },
    "tiny": {
        "store_rows": 300, "upsert_rows": 20, "delete_keys": 5,
        "batch_queries": 3, "knn_per_cycle": 2,
        "docs": 300, "batch_docs": 20, "lists": 8, "queries": 8, "probe": 2,
    },
}


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(file count, bytes) of the data files under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def files_newer_than(path: str, t: float) -> tuple[int, int]:
    """(count, bytes) of parquet files under ``path`` modified at or
    after wall time ``t``: the files one write produced."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if f.endswith(".parquet") and os.path.getmtime(p) >= t - 0.01:
                n += 1
                size += os.path.getsize(p)
    return n, size


class Workload:
    name = ""
    # samples per role a run collects even if that takes longer than
    # --seconds: every run then has the same mix, whatever the host's pace
    min_samples = {"query": 1, "write": 1, "bulk": 1}

    def __init__(self, spark, tracer, seed: int, workdir: str, size: str = "full"):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.workdir = workdir
        self.sz = SIZES[size]
        self.rng = gen.rng_for(seed, self.name, 1)  # the operation stream
        self.samples: dict[str, list[float]] = {"query": [], "write": [], "bulk": []}
        self._open: dict[str, float] = {}  # role timings since the last commit
        self.recall: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.pairs: dict[str, float] = {}  # vectors scored per span name
        self.span_prefix = ""
        self._obs: list = []  # per-call layer observations (files, sizes, candidates)
        self._appends: list[int] = []  # files each append added

    @property
    def measuring(self) -> bool:
        """False during the untimed warm pass."""
        return not self.span_prefix

    def count_pairs(self, span: str, n: float):
        if self.measuring:
            self.pairs[span] = self.pairs.get(span, 0) + n

    def call(self, span: str, role: str | None, fn, check=None):
        """Run one public call inside a span; count it, time it under
        ``role`` and check its answer.  Returns the call's result."""
        counted = self.measuring
        if counted:
            self.attempted += 1
        try:
            with self.tr.span(self.span_prefix + span) as sp:
                out = fn()
        except Exception:  # a raised call is a failed operation; keep going
            if counted:
                self.failed += 1
            print(f"{self.span_prefix}{span} raised:", flush=True)
            traceback.print_exc(file=sys.stdout)
            return None
        if counted:
            if role:
                self._open[role] = self._open.get(role, 0.0) + sp.end - sp.start
            if check is not None and not check(out):
                self.failed += 1
                print(f"{span} returned a wrong answer", flush=True)
        return out

    def commit(self):
        for role, t in self._open.items():
            self.samples[role].append(t)
        self._open = {}

    def warm(self):
        """One untimed call of every operation type."""
        self.span_prefix = "warm."
        try:
            for _ in self.step(warm=True):
                pass
        finally:
            self.span_prefix = ""
            self._open = {}

    def disk_ratio(self) -> float:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# store_crud
# ---------------------------------------------------------------------------

_TS0 = dt.datetime(2026, 1, 1)
_REC_DDL = "collection STRING, key STRING, metadata STRING, embedding ARRAY<FLOAT>, ts TIMESTAMP"


# writes and batch scans go to the largest collection.  A run makes only
# one or two of each, so spreading them over collections of different
# sizes would make a run's median depend on how many it fitted in.
HOT = gen.COLLECTIONS[0]


class StoreCrud(Workload):
    """``VectorStore`` CRUD and brute-force search over skewed collections.
    query = ``search`` (k=10), write = ``upsert``, bulk = ``search_batch``."""

    name = "store_crud"
    min_samples = {"query": 12, "write": 2, "bulk": 2}

    def setup(self) -> float:
        from merkonvectordb_spark.sources.vector_store import VectorStore

        root = self.workdir
        with self.tr.span("setup.store") as sp:
            rows = gen.store_rows(self.seed, self.sz["store_rows"])
            self.mirror = truth.StoreMirror()
            for c, k, m, e in rows:
                self.mirror.put(c, k, m, e)
            self.next_key = len(rows)
            self.rotation = gen.skew_rotation()
            self._turn: dict[str, int] = {}
            self.store = VectorStore(self.spark, root)
            self.store.upsert(self._records(rows))
        return sp.end - sp.start

    def _records(self, rows):
        return self.spark.createDataFrame(
            [
                (c, k, m, e.tolist(), _TS0 + dt.timedelta(seconds=i))
                for i, (c, k, m, e) in enumerate(rows)
            ],
            _REC_DDL,
        )

    def _collection(self, kind: str) -> str:
        """The next collection for a read of ``kind``, in skew order."""
        n = self._turn.get(kind, 0)
        self._turn[kind] = n + 1
        return self.rotation[n % len(self.rotation)]

    def _query_vec(self, coll: str) -> np.ndarray:
        keys, mat = self.mirror.matrix(coll)
        if len(keys) and self.rng.random() < 0.6:
            base = mat[int(self.rng.integers(len(keys)))]
            return (base + 0.1 * self.rng.standard_normal(gen.DIM)).astype(np.float32)
        return gen.store_embedding(self.rng, 1)[0]

    def _check_topk(self, coll, q, got) -> bool:
        keys, mat = self.mirror.matrix(coll)
        scores = truth.cosine(mat, q) if len(keys) else np.zeros(0)
        ok = truth.topk_ok([g[0] for g in got], [g[1] for g in got], keys, scores, K)
        exact = set(truth.exact_topk(keys, mat, q, K)) if len(keys) else set()
        if exact:
            self.recall.append(len(exact & {g[0] for g in got}) / len(exact))
        return ok

    def knn(self):
        coll = self._collection("knn")
        q = self._query_vec(coll)
        self.count_pairs("search.knn", self.mirror.size(coll))
        self.call(
            "search.knn", "query",
            lambda: [(r["key"], r["score"])
                     for r in self.store.search(coll, q.tolist(), K).collect()],
            lambda got: self._check_topk(coll, q, got),
        )

    def get_missing(self):
        self.get(missing=True)

    def get(self, missing: bool = False):
        coll = self._collection("get")
        keys = list(self.mirror.rows.get(coll, {}))
        if missing or not keys:
            key = f"{coll}-missing{int(self.rng.integers(10**6))}"
            want = None
        else:
            key = keys[int(self.rng.integers(len(keys)))]
            want = self.mirror.rows[coll][key]

        def check(row):
            if want is None:
                return row is None
            return (
                row is not None
                and row["metadata"] == want[0]
                and np.array_equal(np.asarray(row["embedding"], np.float32), want[1])
            )

        self.call("vector_store.get", None, lambda: self.store.get(coll, key), check)

    def upsert(self):
        coll = HOT
        n = self.sz["upsert_rows"]
        existing = list(self.mirror.rows.get(coll, {}))
        n_upd = min(n // 2, len(existing))
        upd_keys = [existing[int(i)] for i in
                    self.rng.choice(len(existing), n_upd, replace=False)] if n_upd else []
        new_keys = [gen.store_key(coll, self.next_key + i) for i in range(n - n_upd)]
        self.next_key += n - n_upd
        embs = gen.store_embedding(self.rng, n)
        rows = [(coll, k, gen.store_metadata(k, self.rng), embs[i])
                for i, k in enumerate(upd_keys + new_keys)]
        user_bytes = sum(len(k.encode()) + len(m.encode()) + 4 * e.size
                         for _, k, m, e in rows)
        recs = self._records(rows)
        start = dt.datetime.now().timestamp()
        self.call("vector_store.upsert", "write", lambda: self.store.upsert(recs))
        for c, k, m, e in rows:
            self.mirror.put(c, k, m, e)
        n_files, n_bytes = files_newer_than(self.store.vectors_path, start)
        if self.measuring:
            self._obs.append((n_files, n_bytes / user_bytes))

    def delete(self):
        coll = HOT
        keys = list(self.mirror.rows.get(coll, {}))
        n = min(self.sz["delete_keys"], len(keys))
        doomed = [keys[int(i)] for i in self.rng.choice(len(keys), n, replace=False)]
        self.call(
            "vector_store.delete", None,
            lambda: self.store.delete_batch(coll, doomed),
        )
        for k in doomed:
            self.mirror.delete(coll, k)

    def search_batch(self):
        coll = HOT
        qs = [self._query_vec(coll) for _ in range(self.sz["batch_queries"])]
        qdf = self.spark.createDataFrame(
            [(f"q{i}", q.tolist()) for i, q in enumerate(qs)],
            "query_id STRING, embedding ARRAY<FLOAT>",
        )
        self.count_pairs("search.knn_batch", self.mirror.size(coll) * len(qs))

        def run():
            got: dict[str, list] = {f"q{i}": [] for i in range(len(qs))}
            for r in self.store.search_batch(coll, qdf, K).collect():
                got[r["query_id"]].append((r["key"], r["score"]))
            return got

        def check(got):
            return all(
                self._check_topk(coll, q, sorted(got[f"q{i}"], key=lambda g: -g[1]))
                for i, q in enumerate(qs)
            )

        self.call("search.knn_batch", "bulk", run, check)

    def step(self, warm: bool = False):
        # every call is its own sample; the costly calls come first, so a
        # short run still times each role.  The warm pass skips upsert:
        # set-up has just loaded the store with one.
        ops = (self.knn, self.search_batch, self.get, self.delete, self.get_missing)
        for op in ops if warm else (self.upsert,) + ops:
            op()
            yield True
        for _ in range(1 if warm else self.sz["knn_per_cycle"]):
            self.knn()
            yield True

    def finish(self):
        with self.tr.span("check.final_state"):
            rows = self.store.vectors().select("collection", "key").collect()
        have: dict[str, set] = {}
        for r in rows:
            have.setdefault(r["collection"], set()).add(r["key"])
        want = {c: set(ks) for c, ks in self.mirror.rows.items() if ks}
        state_ok = have == want and len(rows) == sum(len(v) for v in want.values())
        n_live, _ = dir_stats(self.store.vectors_path)
        writes = self._obs or [(0, 0.0)]
        knn_s = self.tr.durations("search.knn")
        self.layer.update({
            "vector_store.files_per_write": statistics.median(w[0] for w in writes),
            "vector_store.write_amp": statistics.median(w[1] for w in writes),
            "vector_store.live_files": n_live,
            "search.knn_rows_per_s": self.pairs.get("search.knn", 0) / sum(knn_s)
            if knn_s else 0.0,
        })
        return state_ok

    def disk_ratio(self) -> float:
        return dir_stats(self.store.vectors_path)[1] / self.mirror.user_bytes()


# ---------------------------------------------------------------------------
# corpus_pipeline
# ---------------------------------------------------------------------------

THRESHOLD = 0.6
_DOC_DDL = "doc_id LONG, text STRING"
_VEC_DDL = "vec_id LONG, embedding ARRAY<FLOAT>"


class CorpusPipeline(Workload):
    """The LLM-data-pipeline path over a corpus of documents, each with a
    text and an embedding: a MinHash fingerprint store and a persisted
    IVF index over the history, a daily batch screened against both and
    then appended to both, and a full ``near_dedup`` of the corpus.

    bulk = ``near_dedup`` over the corpus; query = screening one daily
    batch (``probe_minhash_store`` + ``search_ivf_index``); write =
    indexing it (``append_minhash_store`` + ``append_to_ivf_index``)."""

    name = "corpus_pipeline"
    min_samples = {"query": 2, "write": 1, "bulk": 1}

    def setup(self) -> float:
        from merkonvectordb_spark.operators.fingerprint_store import build_minhash_store
        from merkonvectordb_spark.operators.index import build_ivf_index

        root = self.workdir
        sz = self.sz
        n = sz["docs"]
        with self.tr.span("setup.inputs") as sp_in:
            self.corpus = gen.corpus(self.seed, n)
            self.docgen = gen.DocGen(self.seed, stream=1)
            self.vecs = gen.clustered_vectors(
                self.seed, n + 64 * sz["batch_docs"], sz["lists"], sz["queries"]
            )
            self.exact, self.near = truth.family_pairs(
                self.corpus.texts, self.corpus.family, range(n), THRESHOLD
            )
            self.docs_df = self.spark.createDataFrame(
                list(enumerate(self.corpus.texts)), _DOC_DDL
            )
            self.stored = list(range(int(n * 0.9)))
            hist_docs = self._docs_df(self.stored)
            hist_vecs = self._vecs_df(self.stored)
            self.ivf = truth.IvfTruth(self.vecs.centroids)
            self.ivf.add(self.stored, self.vecs.vectors[self.stored])
            cents = self.spark.createDataFrame(
                [(c, v.tolist()) for c, v in enumerate(self.vecs.centroids)],
                "cid INT, cv ARRAY<DOUBLE>",
            )
            self.queries = self.spark.createDataFrame(
                [(i, q.tolist()) for i, q in enumerate(self.vecs.queries)],
                "query_id LONG, embedding ARRAY<FLOAT>",
            )
        self.root = root
        self.count_pairs("index.build", len(self.stored) * sz["lists"])
        self.store = self.call(
            "fingerprint_store.build", None,
            lambda: build_minhash_store(self.spark, hist_docs, os.path.join(root, "minhash")),
        )
        self.idx = self.call(
            "index.build", None,
            lambda: build_ivf_index(self.spark, hist_vecs, cents, os.path.join(root, "ivf")),
        )
        if self.store is None or self.idx is None:
            raise RuntimeError("fixture build failed; nothing to measure")
        builds = self.tr.spans[-2:]
        return (sp_in.end - sp_in.start) + sum(s.end - s.start for s in builds)

    def _docs_df(self, ids):
        return self.spark.createDataFrame(
            [(i, self.corpus.texts[i]) for i in ids], _DOC_DDL
        )

    def _vecs_df(self, ids):
        return self.spark.createDataFrame(
            [(i, self.vecs.vectors[i].tolist()) for i in ids], _VEC_DDL
        )

    # -- bulk -------------------------------------------------------------
    def near_dedup(self):
        from merkonvectordb_spark.operators.dedup import near_dedup

        n = self.sz["docs"]

        def check(rows):
            group_of = {r["doc_id"]: r["group_id"] for r in rows}
            if len(group_of) != n:
                return False
            ok, rec = truth.check_groups(
                group_of, self.corpus.family, self.exact, self.near
            )
            self.recall.append(rec)
            return ok

        self.call(
            "dedup.near_dedup", "bulk",
            lambda: near_dedup(self.docs_df, threshold=THRESHOLD).collect(),
            check,
        )

    # -- query: screen a daily batch ------------------------------------------
    def _next_batch(self):
        ids = gen.daily_batch(
            self.docgen, self.corpus, len(self.corpus.texts),
            self.sz["batch_docs"], self.stored,
        )
        self._batch = (ids, self._docs_df(ids), self._vecs_df(ids))

    def _expected_pairs(self, ids) -> tuple[set, dict]:
        """Planted (new, stored) pairs at or above the threshold: the
        exact-copy pairs that must be found, and every such pair with its
        Jaccard."""
        fam: dict[int, list[int]] = {}
        for h in self.stored:
            fam.setdefault(self.corpus.family[h], []).append(h)
        must, want = set(), {}
        texts = self.corpus.texts
        for i in ids:
            for h in fam.get(self.corpus.family[i], []):
                j = 1.0 if texts[i] == texts[h] else truth.jaccard(texts[i], texts[h])
                if j >= THRESHOLD:
                    want[(i, h)] = j
                    if j == 1.0:
                        must.add((i, h))
        return must, want

    def probe(self):
        from merkonvectordb_spark.operators.fingerprint_store import probe_minhash_store

        self._next_batch()
        ids, docs, _ = self._batch
        must, want = self._expected_pairs(ids)

        def check(rows):
            got = {(r["new_id"], r["hist_id"]): r["jaccard"] for r in rows}
            return must <= set(got) and all(
                p in want and abs(want[p] - j) <= truth.SCORE_TOL
                for p, j in got.items()
            )

        self.call(
            "fingerprint_store.probe", "query",
            lambda: probe_minhash_store(self.store, docs, THRESHOLD).collect(),
            check,
        )

    def search(self):
        from merkonvectordb_spark.operators.index import search_ivf_index

        sz = self.sz
        q = sz["queries"]
        self.count_pairs("index.search", q * sz["lists"])

        def run():
            got: dict[int, list] = {i: [] for i in range(q)}
            res = search_ivf_index(self.idx, self.queries, K, n_probe=sz["probe"])
            for r in res.collect():
                got[r["query_id"]].append((r["vec_id"], r["score"]))
            return got

        def check(got):
            ok = True
            for i in range(q):
                hits = sorted(got[i], key=lambda g: -g[1])
                good, n_cand, rec = self.ivf.check_query(
                    self.vecs.queries[i], sz["probe"], K,
                    [h[0] for h in hits], [h[1] for h in hits],
                )
                ok &= good
                self._obs.append(n_cand)
                self.recall.append(rec)
                self.count_pairs("index.search", n_cand)
            return ok

        self.call("index.search", "query", run, check)

    # -- write: index the daily batch -----------------------------------------
    def append_fingerprints(self):
        from merkonvectordb_spark.operators.fingerprint_store import append_minhash_store

        ids, docs, _ = self._batch
        self.call(
            "fingerprint_store.append", "write",
            lambda: append_minhash_store(self.store, docs),
        )
        self.stored.extend(ids)

    def append_vectors(self):
        from merkonvectordb_spark.operators.index import append_to_ivf_index

        ids, _, vecs = self._batch
        before = dir_stats(self.idx.lists.data_path)[0]
        self.count_pairs("index.append", len(ids) * self.sz["lists"])
        self.call("index.append", "write", lambda: append_to_ivf_index(self.idx, vecs))
        self.ivf.add(ids, self.vecs.vectors[ids])
        if self.measuring:
            self._appends.append(dir_stats(self.idx.lists.data_path)[0] - before)

    def step(self, warm: bool = False):
        # each role's sample is committed as soon as its calls are done, so
        # a run keeps every sample it completed before the time ran out.
        # The warm pass skips the appends: set-up's builds have just
        # written both stores.
        self.probe()
        yield False
        self.search()
        yield True
        if not warm:
            self.append_fingerprints()
            yield False
            self.append_vectors()
            yield True
        self.near_dedup()
        yield True

    def _minhash_files(self) -> tuple[int, int]:
        a = dir_stats(self.store.bands.data_path)
        b = dir_stats(self.store.shingles.data_path)
        return a[0] + b[0], a[1] + b[1]

    def finish(self):
        with self.tr.span("check.final_state"):
            n_sh = self.store.shingles.read().count()
            n_vec = self.idx.lists.read().count()
        state_ok = n_sh == len(self.stored) and n_vec == len(self.ivf.ids)
        n_files, n_bytes = dir_stats(self.idx.lists.data_path)
        cpq = statistics.mean(self._obs) if self._obs else 0.0
        self.layer.update({
            "index.lists_read_frac": self.sz["probe"] / self.sz["lists"],
            "index.candidates_per_query": cpq,
            "index.rerank_yield": K / cpq if cpq else 0.0,
            "versioned.files_per_append": statistics.median(self._appends)
            if self._appends else 0.0,
            "versioned.live_files": n_files,
            "versioned.bytes_per_row": n_bytes / max(n_vec, 1),
        })
        return state_ok

    def trace_extras(self):
        """Counts the public calls do not return: LSH candidates and
        verified edges of one ``near_dedup`` pass, and the candidates
        behind one probe.  Runs after the measured loop, traced runs only."""
        from pyspark.sql import functions as F

        from merkonvectordb_spark.operators.dedup import (
            band_rows,
            candidate_pairs_from_sets,
            collapse_identical_sets,
            jaccard_edges_from_sets,
            shingle_analysis,
        )
        from merkonvectordb_spark.operators.fingerprint_store import probe_minhash_store

        with self.tr.span("check.extras"):
            _, sets = collapse_identical_sets(
                shingle_analysis(self.docs_df, "doc_id", "text")
            )
            pairs = candidate_pairs_from_sets(sets).localCheckpoint()
            n_pairs = pairs.count()
            n_edges = jaccard_edges_from_sets(sets, pairs, THRESHOLD).count()
            self._next_batch()
            _, docs, _ = self._batch
            n_cand = (
                band_rows(shingle_analysis(docs, "doc_id", "text"))
                .withColumn("band_id", F.col("band_id").cast("int"))
                .withColumnRenamed("__id", "new_id")
                .join(self.store.bands.read().withColumnRenamed("__id", "hist_id"),
                      ["band_id", "band_key"])
                .select("new_id", "hist_id").distinct().count()
            )
            n_found = probe_minhash_store(self.store, docs, THRESHOLD).count()
        self.layer.update({
            "dedup.candidate_pairs": n_pairs,
            "dedup.verified_edges": n_edges,
            "dedup.verify_yield": n_edges / n_pairs if n_pairs else 0.0,
            "fingerprint_store.probe_candidates": n_cand,
            "fingerprint_store.probe_yield": n_found / n_cand if n_cand else 0.0,
        })

    def disk_ratio(self) -> float:
        """Index and fingerprint bytes per byte of text and float32
        embedding stored."""
        user = sum(len(self.corpus.texts[i].encode()) for i in self.stored)
        user += len(self.ivf.ids) * 4 * gen.DIM
        return dir_stats(self.root)[1] / user


WORKLOADS = {w.name: w for w in (StoreCrud, CorpusPipeline)}
