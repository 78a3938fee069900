"""Persisted MinHash fingerprint store: incremental near-dup screening
of NEW data against an ever-growing historical corpus.

``near_dedup`` answers "which documents in THIS table duplicate each
other"; a production ingest pipeline asks a different question every
day: "which of today's documents near-duplicate anything we already
have?"  Re-shingling 100 TB of history per batch is the naive answer.
The store amortizes it:

* **build / append**: shingle the historical docs once, persist two
  versioned tables under one root — ``bands`` (the exploded LSH band
  rows ``(__id, band_id, band_key)``, partitioned by band_id) and
  ``shingles`` (``(__id, __sh)``, the exact-verify side).  Appending a
  day's batch appends its rows; versioning gives atomic publish and
  lets a probe pin yesterday's snapshot while today's append runs.
* **probe**: shingle ONLY the new batch, equi-join its band rows
  against the stored bands (hash join on (band_id, band_key) — the
  same Σ|bucket|² bound as self-dedup, history never re-shingles),
  then exact-Jaccard-verify candidates against the stored shingle sets.

This is the incremental face of ``operators.dedup``: same constants,
same signatures, same banding — a probe against a store built from
corpus X returns exactly the cross-pairs ``near_dedup`` would find
inside X ∪ batch (oracle ``dedup_incremental`` pins this).

Scale notes: the probe's shuffle volume is (batch bands + matched
bucket rows), independent of history size except through bucket
occupancy; the Jaccard verify joins only candidate ids against the
shingle table (partition-pruned by nothing — but candidate-sized, so
the join's build side is tiny).  At 100 TB the bands table is the only
history-sized scan, and it is a 3-column table clustered by band_id.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from merkonvectordb_spark.operators.dedup import band_rows, shingle_analysis
from merkonvectordb_spark.sources.versioned import VersionedTable

_BANDS_DDL = "__id LONG, band_id INT, band_key STRING"
_SHINGLES_DDL = "__id LONG, __sh ARRAY<STRING>"


class MinHashStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.bands = VersionedTable(
            spark, os.path.join(root, "bands"), _BANDS_DDL, part_col="band_id"
        )
        self.shingles = VersionedTable(
            spark, os.path.join(root, "shingles"), _SHINGLES_DDL
        )


def build_minhash_store(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> MinHashStore:
    """Shingle + sign + band ``docs`` and persist both tables (replacing
    any previous build — use :func:`append_minhash_store` for daily
    growth)."""
    store = MinHashStore(spark, root)
    # fused Arrow pass: the banding write reuses the carried __sig; the
    # stored shingle table keeps its (__id, __sh) DDL via explicit select
    sets_df = shingle_analysis(docs, id_col, text_col).persist()
    try:
        # the two table DATA writes are independent consumers of the one
        # persisted shingle frame — overlap them (guide §2.6): the
        # banding write's signature fold back-fills cores while the
        # shingle write drains its tail.  The manifest PUBLISHES stay
        # sequenced shingles-first (ADVICE r10): probe_minhash_store's
        # verify join relies on latest-shingles ⊇ any bands version, so
        # a probe overlapping a rebuild must never observe new bands
        # before the new shingles — the r10 form that overlapped whole
        # replace() calls could publish bands first and silently drop
        # candidates as false negatives.  Publishing is driver-side
        # metadata (microseconds), so sequencing it costs nothing.
        from concurrent.futures import ThreadPoolExecutor

        from merkonvectordb_spark.session import with_caller_context

        with ThreadPoolExecutor(2) as pool:
            fs = pool.submit(
                with_caller_context(spark, store.shingles.stage),
                sets_df.select("__id", "__sh"),
            )
            fb = pool.submit(
                with_caller_context(spark, store.bands.stage),
                band_rows(sets_df).withColumn(
                    "band_id", F.col("band_id").cast("int")
                ),
            )
            sh_files, bd_files = fs.result(), fb.result()
        store.shingles.commit_staged_replace(sh_files)
        store.bands.commit_staged_replace(bd_files)
    finally:
        sets_df.unpersist()
    return store


def append_minhash_store(
    store: MinHashStore,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
) -> int:
    """Append a new batch's fingerprints; returns the new bands version.

    The two tables commit independently (no cross-table transaction), so
    a failure between the shingle and band commits leaves them one batch
    apart — and a naive retry would append the shingles TWICE.  Pass a
    ``batch_id`` (e.g. the streaming micro-batch id) to make the call
    idempotent: both appends ride the versioned store's exactly-once
    watermark, so a retry skips whichever table already committed the
    batch and completes the other — the pair converges.
    """
    sets_df = shingle_analysis(docs, id_col, text_col).persist()
    sets_narrow = sets_df.select("__id", "__sh")
    bands = band_rows(sets_df).withColumn(
        "band_id", F.col("band_id").cast("int")
    )
    if batch_id is not None:
        store.shingles.append_exactly_once(
            sets_narrow, "fingerprint_shingles", batch_id
        )
        v = store.bands.append_exactly_once(
            bands, "fingerprint_bands", batch_id
        )
    else:
        store.shingles.append(sets_narrow)
        v = store.bands.append(bands)
    sets_df.unpersist()
    return v


def probe_minhash_store(
    store: MinHashStore,
    new_docs: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    version: int | None = None,
    band_freq_cap: int | None = None,
) -> DataFrame:
    """``(new_id, hist_id, jaccard)`` — every stored document whose
    exact shingle Jaccard with a new-batch document meets ``threshold``.
    Only the new batch is shingled; history is served from the store
    (optionally a pinned BANDS ``version`` — probe a stable candidate
    snapshot while an append commits).

    ``band_freq_cap`` (opt-in, default ``None`` = exact semantics) is
    the probe-side face of the LSH hot-bucket density lever
    (``operators.dedup.candidate_pairs_from_sets``): against a
    template-heavy HISTORY, one hot (band_id, band_key) bucket makes
    the candidate join emit |batch hits| × |bucket| rows regardless of
    how small the batch is.  With a cap, the history side of each
    matched bucket is deterministically sub-sampled to its ``cap``
    LOWEST ``__id`` members.  Cost containment: the cap's row_number
    window runs AFTER a broadcast semi-join restricting stored bands to
    the batch's (band_id, band_key) set — the window therefore shuffles
    only matched-bucket rows (bucket-occupancy-sized), never the
    history-sized bands table, preserving the probe's amortization
    contract.  Recall mirrors the self-dedup cap: a true (new, hist)
    pair is found iff SOME shared band keeps the historical endpoint in
    its bucket's low-id prefix; exact duplicates of a kept historical
    doc always collide with it in every band.  The keep-rule (shared
    with the self-dedup cap — ``operators.dedup.cap_band_rows``) is
    stable across appends PROVIDED ids are assigned monotonically
    (each batch's ids exceed the history's, the normal ingest-sequence
    contract): then an append can only extend a bucket's kept low-id
    prefix, never displace it, so a partner reported today is reported
    tomorrow.  Appending a LOWER id into a hot bucket (backfill with
    out-of-order ids) can evict a previous partner from the prefix —
    pin a bands ``version`` if replaying a probe must be exact.

    The shingle side always reads LATEST, never ``version``: the two
    tables' version counters are independent (a crashed append, or
    maintenance on one table, offsets them), so pinning both at the
    same number can pair band rows with a shingle set missing their
    ids — and the inner verify join would DROP those candidates as
    silent false negatives.  Appends commit shingles FIRST and ids are
    never removed, so latest-shingles ⊇ any bands version: every
    candidate always verifies against a present set."""
    # localCheckpoint (eager), not persist: the returned frame is lazy,
    # so a persist here could never be unpersisted by this function
    new_full = shingle_analysis(new_docs, id_col, text_col).localCheckpoint(
        eager=True
    )
    new_sets = new_full.select("__id", "__sh")
    new_bands = band_rows(new_full).withColumn(
        "band_id", F.col("band_id").cast("int")
    )
    hist_bands = store.bands.read(version)
    if band_freq_cap is not None:
        from merkonvectordb_spark.operators.dedup import cap_band_rows

        probe_keys = new_bands.select("band_id", "band_key").distinct()
        hist_bands = cap_band_rows(
            hist_bands.join(
                F.broadcast(probe_keys), ["band_id", "band_key"], "left_semi"
            ),
            band_freq_cap,
        )
    cand = (
        new_bands.withColumnRenamed("__id", "new_id")
        .join(
            hist_bands.withColumnRenamed("__id", "hist_id"),
            ["band_id", "band_key"],
        )
        .select("new_id", "hist_id")
        .distinct()
    )
    hist_sets = store.shingles.read()  # ALWAYS latest — see docstring
    jac = F.size(F.array_intersect("sh_n", "sh_h")) / F.size(
        F.array_union("sh_n", "sh_h")
    )
    return (
        cand.join(
            new_sets.select(
                F.col("__id").alias("new_id"), F.col("__sh").alias("sh_n")
            ),
            "new_id",
        )
        .join(
            hist_sets.select(
                F.col("__id").alias("hist_id"), F.col("__sh").alias("sh_h")
            ),
            "hist_id",
        )
        .withColumn("__jac", jac)
        .where(F.col("__jac") >= F.lit(float(threshold)))
        .select(
            "new_id", "hist_id", F.round("__jac", 6).alias("jaccard")
        )
    )
