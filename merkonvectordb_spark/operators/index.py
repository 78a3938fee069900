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
* **search**: collect the query set and the index's K centroids (both
  metadata-sized), pick each query's ``n_probe`` nearest centroids on
  the driver, and scan ONLY those partitions of the lists table (a
  literal ``cid IN (...)`` filter: static partition pruning over the
  manifest's file list — the scan touches n_probe/K of the index, which
  is the entire point).  One Arrow kernel scores each list row against
  the queries probing its list, by exact cosine; embeddings live in the
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from merkonvectordb_spark.operators.ann import (
    IVF_N_PROBE,
    _centroids,
    _ivf_lists,
    _ivf_topk,
)
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


def _index_rows(df, centroids, id_col, emb_col, extra_cols) -> DataFrame:
    """``(id, cid INT, emb, extra...)``: each row of ``df`` with an id in
    its best list (``ann._ivf_lists``, the lists ``knn_batch_ivf``
    searches)."""
    return _ivf_lists(
        df, _centroids(centroids), id_col, emb_col, (emb_col, *extra_cols)
    ).select(
        F.col(id_col), F.col("cid").cast("int").alias("cid"),
        emb_col, *extra_cols,
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
    whatever quantizer it is given.  Assignment is the row-wise
    ``ivf_assign`` kernel (n_best=1): it carries each row's payload
    (embedding + extras), so the index rows come straight out of one
    corpus pass (rows without an id, which no search could name, drop) — no aggregate, no re-join, no exchange before the write
    clusters rows by cid so each list is one partition directory.
    """
    rows = _index_rows(corpus, centroids, id_col, emb_col, extra_cols)
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

    Per-batch cost is |batch|×K assignment plus a partition-clustered
    append (new files land inside the touched cid directories), so
    keeping the index fresh costs the batch, not the corpus.  Per-row
    assignment is independent given a fixed quantizer, so searching the
    appended version is bit-identical to searching an index built from
    scratch over the union corpus with the same centroids (``test_index``
    pins it).  The quantizer used is the one PAIRED with the current
    lists version (carried forward in the lists manifest's txn
    metadata), so a concurrent centroids-table write never skews a
    batch's assignment.  Searching the pre-append version excludes the
    batch.

    Callers own dedup: appending an id that already exists yields two
    index rows, as do two rows sharing an id within one batch.
    Quantizer drift is the rebuild trigger — monitor with
    ``queries_ann.q_embedding_drift_report``.
    """
    v = idx.lists.current_version()
    paired = idx.lists._txn_map(v).get(_PAIRED_CENTROIDS)
    cents = idx.centroids.read(paired)
    rows = _index_rows(new_rows, cents, id_col, emb_col, extra_cols)
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

    The query set and the quantizer are collected to the driver, which
    picks each query's ``n_probe`` lists; the probed cid set becomes a
    LITERAL partition filter, so the lists scan plans with static
    partition pruning: only the probed list directories are read.
    Candidates carry their embeddings from the index rows; the exact
    re-rank is ``knn_batch_ivf``'s own tail (``ann._ivf_topk``), so a
    search of a freshly built index returns its results bit for bit.

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
    cents = _centroids(idx.centroids.read(paired))  # None (legacy) → latest
    return _ivf_topk(
        idx.lists.read(v_lists), queries, cents, k, n_probe, min_score,
        id_col, emb_col, query_id_col,
    )
