"""Persisted IVF vector index: build once, query many.

``knn_batch_ivf`` recomputes the corpus→list assignment inside every
query plan — correct, but at 100 TB the assignment scan dominates and
is identical across queries.  A deployment builds the index ONCE and
amortizes it:

* **build**: assign every vector to its best coarse-quantizer centroid,
  then write ``(id, cid, embedding, extra...)`` to a
  ``sources.versioned.VersionedTable`` partitioned by ``cid`` — each
  inverted list is its own partition directory — plus the centroid set
  as a second (tiny) versioned table.  Versioning gives atomic publish,
  snapshot isolation, and index rebuilds as time travel.
* **search**: probe each query's ``n_probe`` nearest centroids, collect
  the probed cid set to the driver (≤ n_probe × |queries| ints —
  metadata-sized by construction), and scan ONLY those partitions of
  the lists table (static partition pruning over the manifest's file
  list — the scan touches n_probe/K of the index, which is the entire
  point).  Candidates re-rank by exact cosine; embeddings live in the
  index rows, so search never touches the original corpus table.

Same retrieval semantics as ``knn_batch_ivf`` (a search against a
freshly built index returns bit-identical results — shared oracle), but
the corpus×K assignment runs at build time, not per query.

Reference parity note: the reference has no index at all (O(N·d) scan
per query, MerkonMemoryStore.cs:133-148); this is the scale path a
Spark deployment substitutes.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from merkonvectordb_spark.functions.vector import cosine_similarity
from merkonvectordb_spark.operators.ann import IVF_N_PROBE, ivf_assign
from merkonvectordb_spark.sources.versioned import VersionedTable

_CENTROIDS_DDL = "cid INT, cv ARRAY<DOUBLE>"

# txn-metadata key pairing each lists version with the centroids version
# it was built against (see build_ivf_index)
_PAIRED_CENTROIDS = "__paired_centroids"


def _ddl_of(df: DataFrame) -> str:
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )


class IvfIndex:
    """Disk layout: ``root/lists`` (VersionedTable, partitioned by cid)
    + ``root/centroids`` (VersionedTable, K rows)."""

    def __init__(self, spark: SparkSession, root: str, lists_ddl: str):
        self.spark = spark
        self.root = root
        self.lists = VersionedTable(
            spark, os.path.join(root, "lists"), lists_ddl, part_col="cid"
        )
        self.centroids = VersionedTable(
            spark, os.path.join(root, "centroids"), _CENTROIDS_DDL
        )


def build_ivf_index(
    spark: SparkSession,
    corpus: DataFrame,
    centroids: DataFrame,
    root: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    extra_cols: Sequence[str] = (),
) -> IvfIndex:
    """Materialize the inverted-file index for ``corpus`` under ``root``.

    ``centroids`` carries ``(cid, cv)`` — seed them deterministically or
    refine with ``operators.ann.kmeans_refine`` first; the index stores
    whatever quantizer it is given.  Assignment is the partial-aggregable
    corpus×K max-of-struct (``ivf_assign`` n_best=1): shuffle volume is
    one struct per corpus row, then the write clusters rows by cid so
    each list is one partition directory.
    """
    from merkonvectordb_spark.operators.skew import spread_small_scan

    # the corpus×K scoring is CPU-bound; spread a narrow (small-file)
    # scan over the cores first — no-op when the scan is already wide.
    # carry= threads the payload (embedding + extras) THROUGH the
    # assignment aggregate (first() over a constant group — every
    # pre-agg row of an id holds the same payload), so the index rows
    # come straight out of the agg: no assignment⋈corpus re-join, no
    # second corpus scan, one fewer exchange per build (guide §2.4) —
    # shuffle volume is unchanged (the payload crossed in the join's
    # corpus-side exchange before).
    rows = ivf_assign(
        spread_small_scan(corpus), centroids, id_col, emb_col, 1,
        carry=(emb_col, *extra_cols),
    ).select(
        F.col(id_col), F.col("cid").cast("int").alias("cid"),
        emb_col, *extra_cols,
    )
    idx = IvfIndex(spark, root, _ddl_of(rows))
    # commit ORDER matters: centroids first, then lists carrying the
    # PAIRED centroids version in its manifest txn metadata.  The two
    # tables' version counters are independent (single-table maintenance
    # like a lists compaction bumps only one), so "read both at version
    # N" silently pairs one build's lists with another build's quantizer
    # — probed cids from the wrong quantizer prune to the wrong
    # partitions and recall collapses with no error.  The pairing rides
    # the lists manifest, so every lists version knows ITS quantizer.
    #
    # The ordering contract binds VISIBILITY (manifest publish order),
    # not computation (guide §2.6 / VERDICT r10 #1): the centroids
    # replace-commit (a tiny but whole Spark job) and the lists DATA
    # write (assignment scoring + clustered write — the expensive job)
    # are independent, so they run concurrently; the lists manifest is
    # published only after the centroids commit returned its version,
    # preserving centroids-first visibility exactly as before.
    from concurrent.futures import ThreadPoolExecutor

    from merkonvectordb_spark.session import with_caller_context

    with ThreadPoolExecutor(2) as pool:
        fcv = pool.submit(
            with_caller_context(spark, idx.centroids.replace),
            centroids.select(
                F.col("cid").cast("int").alias("cid"), F.col("cv")
            ),
        )
        files = idx.lists.stage(rows)
        cv = fcv.result()
    idx.lists.commit_staged_replace(files, txn=(_PAIRED_CENTROIDS, int(cv)))
    # persist the lists DDL so open_ivf_index can reconstruct the exact
    # declared schema (partition-column type included)
    with open(os.path.join(root, "lists_ddl.txt"), "w") as f:
        f.write(idx.lists.schema_ddl)
    return idx


def append_to_ivf_index(
    idx: IvfIndex,
    new_rows: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    extra_cols: Sequence[str] = (),
) -> int:
    """Incremental index maintenance: assign ONLY the new batch against
    the index's own quantizer and append — the existing lists are never
    re-assigned, re-shuffled, or rewritten.  Returns the new lists
    version.

    This is the ingest path a live 100 TB deployment runs between
    rebuilds: per-batch cost is |batch|×K assignment plus a
    partition-clustered append (new files land inside the touched cid
    directories; old files are untouched), so keeping the index fresh
    costs the batch, not the corpus.  Because per-row assignment is
    independent given a fixed quantizer, searching the appended version
    is bit-identical to searching an index built from scratch over the
    union corpus with the same centroids — the invariant
    ``test_index`` pins and the ``knn_batch_ivf`` oracle checks.

    The quantizer used is the one PAIRED with the current lists version
    (carried in the lists manifest's txn metadata and propagated forward
    by every append), so a concurrent centroids-table write can never
    skew a batch's assignment.  Time travel still works: searching the
    pre-append version excludes the batch.

    Callers own dedup: appending an id that already exists yields two
    index rows (use ``operators.store.upsert`` semantics upstream, or
    rebuild).  Quantizer drift is the rebuild trigger — monitor with
    ``queries_ann.q_embedding_drift_report``.
    """
    v = idx.lists.current_version()
    paired = idx.lists._txn_map(v).get(_PAIRED_CENTROIDS)
    cents = idx.centroids.read(paired)
    from merkonvectordb_spark.operators.skew import spread_small_scan

    # carry= threads the payload through the assignment aggregate (see
    # build_ivf_index): no batch⋈assignment re-join, no second batch scan
    rows = ivf_assign(
        spread_small_scan(new_rows), cents.select("cid", "cv"), id_col,
        emb_col, 1, carry=(emb_col, *extra_cols),
    ).select(
        F.col(id_col), F.col("cid").cast("int").alias("cid"),
        emb_col, *extra_cols,
    )
    # append propagates the full txn map (including the paired-centroids
    # pointer) into the new manifest — see VersionedTable._publish
    return idx.lists.append(rows)


def open_ivf_index(
    spark: SparkSession, root: str, lists_ddl: str | None = None
) -> IvfIndex:
    """Re-open an index built by :func:`build_ivf_index`.  The lists
    DDL is read from the build-time sidecar unless given explicitly —
    an empty DDL would silently degrade the partitioned read (cid back
    as STRING, empty reads column-less)."""
    if lists_ddl is None:
        p = os.path.join(root, "lists_ddl.txt")
        try:
            with open(p) as f:
                lists_ddl = f.read().strip()
        except OSError as e:
            raise FileNotFoundError(
                f"no lists DDL at {p} — not an index root, or pass "
                f"lists_ddl explicitly"
            ) from e
    if not lists_ddl:
        raise ValueError("lists_ddl must be a non-empty DDL string")
    return IvfIndex(spark, root, lists_ddl)


def search_ivf_index(
    idx: IvfIndex,
    queries: DataFrame,
    k: int,
    n_probe: int = IVF_N_PROBE,
    min_score: float = 0.0,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    version: int | None = None,
) -> DataFrame:
    """Batch top-k against the persisted index (optionally a past
    ``version`` — time-travel search over an older index build).

    The probed cid set is collected to the driver and pushed as a
    LITERAL partition filter, so the lists scan plans with static
    partition pruning: only n_probe-per-query list directories are read.
    Candidates carry their embeddings from the index rows; the exact
    re-rank is the same broadcast-queries + per-query bounded top-k tail
    as the in-memory operators.

    ``version`` pins the LISTS table; the quantizer read is the
    centroids version PAIRED with that lists commit (recorded at build
    time in the lists manifest) — never the same raw number, which
    desyncs as soon as either table takes a single-table maintenance
    write.
    """
    v_lists = (
        idx.lists.current_version() if version is None else version
    )
    paired = idx.lists._txn_map(v_lists).get(_PAIRED_CENTROIDS)
    cents = idx.centroids.read(paired)  # None (legacy) → latest
    probes = ivf_assign(
        queries.select(F.col(query_id_col), F.col(emb_col)),
        cents.select("cid", "cv"),
        query_id_col,
        emb_col,
        n_probe,
    ).withColumnRenamed(query_id_col, "__qid")
    # ONE assignment job: collect the metadata-sized (qid, cid) pairs
    # and rebuild the probe frame from them — referencing `probes`
    # lazily in the search plan would re-run the queries×K scoring a
    # second time
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    pairs = [
        (r["__qid"], int(r["cid"]))
        for r in probes.select("__qid", "cid").collect()
    ]
    probe_cids = sorted({c for _, c in pairs})
    probes_df = idx.spark.createDataFrame(
        pairs, f"__qid {qid_t}, cid INT"
    )
    lists = idx.lists.read(v_lists).where(F.col("cid").isin(probe_cids))
    # assignment is n_best=1, so every id lives in exactly ONE list: a
    # query meets each candidate at most once through its probes — no
    # distinct, no second join; the probe-join rows carry the candidate
    # embedding straight out of the index
    cand = F.broadcast(probes_df).join(lists, "cid").drop("cid")
    # the exact re-rank tail is SHARED with knn_batch_ivf (ann.rerank_topk)
    # — the "bit-identical results" promise holds by construction
    from merkonvectordb_spark.operators.ann import rerank_topk

    return rerank_topk(
        cand, queries, k, min_score, id_col, emb_col, query_id_col
    )
