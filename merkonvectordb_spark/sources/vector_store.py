"""Parquet-backed vector store: the reference's one-file database
(MerkonDatabase.cs:108-162) as a ``collection``-partitioned parquet table
plus a tiny ``collections`` registry table.

Storage layout (SURVEY §1.3):

    <root>/vectors/collection=<name>/*.parquet   -- the data
    <root>/collections/*.parquet                 -- registry (empty
                                                    collections exist too)

Write semantics vs the reference's anti-optimizations (SURVEY §4.1):

* the reference rewrites the WHOLE database file on every mutation
  (O(DB) write amplification, MerkonDatabase.cs:149-162, twice per upsert
  via the double Update/InsertOrIgnore call, MerkonMemoryStore.cs:243-260);
* here a mutation rewrites only the parquet partitions of the collections
  it touches (``partitionOverwriteMode=dynamic``), and W7
  delete-collection is a pure partition drop.  On Delta/Iceberg the same
  transforms become ``MERGE INTO``/``DELETE`` with file-level pruning —
  the operator layer (operators.store) is identical either way.

Concurrency: like the reference ("Only one instance may access the file
at a time", MerkonMemoryStore.cs:19-21), plain parquet gives no
transactional isolation — single-writer assumed.  A table format with a
transaction log lifts that without touching this API.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from merkonvectordb_spark.operators import store as ops
from merkonvectordb_spark.schema import VECTORS_SCHEMA_DDL
from merkonvectordb_spark.session import release_checkpoint

_REGISTRY_DDL = "collection STRING, created_seq LONG"


def _conform(batch: DataFrame) -> DataFrame:
    """``batch`` with each column the table stores cast to its
    ``VECTORS_SCHEMA_DDL`` type; other columns pass through."""
    want = {f.name: f.dataType for f in T.StructType.fromDDL(VECTORS_SCHEMA_DDL)}
    emb = batch.schema["embedding"].dataType if "embedding" in batch.columns else None
    if not (
        isinstance(emb, T.ArrayType) and isinstance(emb.elementType, T.NumericType)
    ):
        raise ValueError(
            f"upsert batch needs a numeric array embedding, got {emb}"
        )
    return batch.select(
        *[
            F.col(c).cast(want[c]) if c in want else F.col(c)
            for c in batch.columns
        ]
    )


class VectorStore:
    """CRUD facade over a collection-partitioned parquet ``vectors`` table
    (SURVEY §2 parity surface W1-W11 / R1 / S1-S4 / P1).

    ``pre_normalized=True`` is the SEARCH-OPTIMIZED layout
    (functions/vector.py:19-21): embeddings are L2-normalized once at
    upsert, so every subsequent query scores with a single dot-product
    fold (``search``/``search_batch`` pass ``assume_normalized``)
    instead of cosine's three.  At 100 TB the normalize is paid once per
    ingested row and the saving recurs per (row × query) pair.
    Trade-offs, by design (opt-in): read-back returns UNIT vectors (the
    original magnitude is not retained — cosine search never uses it),
    and a zero-norm embedding stores as NULL (it is unscorable either
    way; the reference's NaN semantics exclude it from every search).
    """

    def __init__(
        self, spark: SparkSession, root: str, pre_normalized: bool = False
    ):
        self.spark = spark
        self.root = root
        self.pre_normalized = pre_normalized
        self.vectors_path = os.path.join(root, "vectors")
        self.registry_path = os.path.join(root, "collections")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # -- S1 load / table handles ------------------------------------------
    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], VECTORS_SCHEMA_DDL)

    @staticmethod
    def _has_data(path: str) -> bool:
        # existence probe instead of read-and-catch: a missing path is the
        # normal "empty store" state, not an exceptional one (and the JVM
        # logs caught AnalysisExceptions noisily)
        return os.path.isdir(path) and any(
            not n.startswith(("_", ".")) for n in os.listdir(path)
        )

    def vectors(self) -> DataFrame:
        """Current table state (S1).  Missing table ⇒ empty (the reference
        creates the file on first Load, MerkonDatabase.cs:128-148)."""
        if not self._has_data(self.vectors_path):
            return self._empty()
        df = self.spark.read.schema(VECTORS_SCHEMA_DDL).parquet(self.vectors_path)
        # partition column comes back as the last column; normalize order
        return df.select(
            "collection", "key", "metadata", "embedding", "ts", "ingest_seq"
        )

    def registry(self) -> DataFrame:
        if not self._has_data(self.registry_path):
            return self.spark.createDataFrame([], _REGISTRY_DDL)
        return self.spark.read.schema(_REGISTRY_DDL).parquet(self.registry_path)

    # -- S2 save -----------------------------------------------------------
    def _overwrite_partitions(
        self, new_rows: DataFrame, touched: Sequence[str] | None = None
    ) -> None:
        """Dynamic partition overwrite: only collections present in
        ``new_rows`` are rewritten — the scale-safe 'Save' (S2).

        ``touched`` lists the collections this write is ABOUT: dynamic
        overwrite only replaces partitions that appear in the output, so
        a touched collection whose new state is EMPTY (its last row was
        deleted / expired) would otherwise silently keep its old files —
        those partitions are dropped explicitly after the write.

        Range-partitioned on (collection, key), NOT hash-partitioned on
        collection alone: hash-by-collection funnels each collection
        through ONE writer task (a 10 TB collection would serialize
        through a single file/core), while the range layout spreads a
        big collection across many writers, keeps small collections to
        few files, and leaves the data key-clustered for read-side
        min/max pruning on point lookups."""
        import shutil

        par = self.spark.sparkContext.defaultParallelism
        # localCheckpoint (eager), NOT lazy persist: new_rows' lineage
        # reads the very path the write below overwrites.  A lazy persist
        # leaves a recompute hazard — if cached blocks are evicted, the
        # post-write `present` collect would re-scan post-overwrite state.
        # Checkpointing cuts the lineage BEFORE the overwrite, and the
        # `present` set is taken from the checkpointed frame up front.
        new_rows = new_rows.localCheckpoint(eager=True)
        present = set()
        if touched:
            present = {
                r["collection"]
                for r in new_rows.select("collection").distinct().collect()
            }
        (
            new_rows.repartitionByRange(par, "collection", "key")
            .write.mode("overwrite")
            .partitionBy("collection")
            .parquet(self.vectors_path)
        )
        # written: nothing reads the checkpoint any more
        release_checkpoint(new_rows)
        for c in touched or ():
            if c not in present:
                # partition drop assumes a DRIVER-VISIBLE filesystem
                # (local FS / fuse-mounted object store).  On a bare
                # object store this becomes a storage-API delete; the
                # store path abstraction is the single seam to swap.
                shutil.rmtree(
                    os.path.join(self.vectors_path, f"collection={c}"),
                    ignore_errors=True,
                )

    def _write_registry(self, rows: Sequence[tuple]) -> None:
        # registry is tiny (one row per collection): the caller collects
        # it, edits it on the driver and hands the rows back, so the new
        # table is a local frame and overwrites its own path directly
        reg = self.spark.createDataFrame(list(rows), _REGISTRY_DDL)
        reg.coalesce(1).write.mode("overwrite").parquet(self.registry_path)

    def _register(self, names: Sequence[str]) -> None:
        """Add the collections of ``names`` the registry lacks, with
        consecutive ``created_seq`` in name order: one collect, and one
        write only when something is missing.  An existing entry keeps
        its ``created_seq``."""
        rows = [tuple(r) for r in self.registry().collect()]
        known = {c for c, _ in rows}
        missing = sorted(set(names) - known)
        if not missing:
            return
        top = max((seq for _, seq in rows), default=0)
        self._write_registry(
            rows + [(c, top + i) for i, c in enumerate(missing, 1)]
        )

    # -- W9/W10/W11 collection DDL ----------------------------------------
    def create_table(self) -> None:
        """W10 CreateTable: ensure the store exists (MerkonDatabase.cs:164-169)."""
        if not os.path.exists(self.vectors_path):
            self._empty().write.mode("ignore").partitionBy("collection").parquet(
                self.vectors_path
            )

    def create_collection(self, name: str) -> None:
        """W9: idempotent registry insert (MerkonDatabase.cs:18-24).  The
        reference auto-creates collections on READ too
        (MerkonDatabase.cs:28,40) — a side effect we deliberately do not
        replicate (SURVEY §7.4); creation is explicit or via upsert."""
        self._register([name])

    def collection_exists(self, name: str) -> bool:
        """W11 (MerkonDatabase.cs:44-47): registry membership (covers empty
        collections) OR data presence (covers data written out-of-band)."""
        if self.registry().where(F.col("collection") == name).limit(1).count():
            return True
        return bool(
            self.vectors().where(F.col("collection") == name).limit(1).count()
        )

    def list_collections(self) -> DataFrame:
        """S4 (MerkonDatabase.cs:197-204): registry ∪ distinct data
        partitions."""
        return (
            self.registry()
            .select("collection")
            .unionByName(self.vectors().select("collection"))
            .distinct()
        )

    # -- W1-W4 upsert ------------------------------------------------------
    def upsert(self, records: DataFrame, key_from_metadata: bool = True) -> None:
        """W1-W4 batched upsert.  ``key ← metadata.id`` first (W3,
        MerkonMemoryStore.cs:240) unless disabled.  Only partitions of
        collections present in ``records`` are read and rewritten.

        Per call: the prepared batch is read once into a local
        checkpoint, released when the call ends.  Then one job collects
        its collections, one job takes the store's max ``ingest_seq``, one
        checkpoint evaluates the merge (``operators.store.upsert``, one
        pass over the affected partitions), one write replaces them, and
        the registry is collected once and written only when a
        collection is new.

        The batch's columns are cast to ``VECTORS_SCHEMA_DDL``'s types
        first (an ``array<double>`` embedding, what ``createDataFrame``
        infers from Python floats, is stored as ``array<float>``), so a
        write can never change the type a later read expects.  An
        embedding that is not a numeric array, and a NULL
        ``collection``, raise ``ValueError`` before anything is
        written: no partition can hold the latter and the registry
        cannot name it."""
        upd = ops.with_key_from_metadata(records) if key_from_metadata else records
        if self.pre_normalized:
            from merkonvectordb_spark.functions.vector import l2_normalize

            # normalize in double, store in the table's float32 element
            # type (the reference's vector precision; VECTORS_SCHEMA_DDL)
            upd = upd.withColumn(
                "embedding",
                l2_normalize(F.col("embedding")).cast("array<float>"),
            )
        upd = _conform(upd).localCheckpoint(eager=True)
        try:
            colls = [
                r["collection"]
                for r in upd.select("collection").distinct().collect()
            ]
            if None in colls:
                raise ValueError("upsert batch has rows with a NULL collection")
            colls.sort()
            state = self.vectors()
            # inserts are numbered past the GLOBAL max, so sequences stay
            # unique across collections
            g_max = state.agg(F.max("ingest_seq")).first()[0] or 0
            new_affected = ops.upsert(
                state.where(F.col("collection").isin(colls)), upd, seq_base=g_max
            )
            self._overwrite_partitions(new_affected)
        finally:
            release_checkpoint(upd)
        self._register(colls)

    # -- W5-W8 deletes -----------------------------------------------------
    def delete(self, collection: str, key: str) -> None:
        """W5 (MerkonDatabase.cs:58-70)."""
        self.delete_batch(collection, [key])

    def delete_batch(self, collection: str, keys: Sequence[str]) -> None:
        """W6 — one statement, not the reference's per-key Task.WhenAll
        (MerkonMemoryStore.cs:111-114)."""
        part = self.vectors().where(F.col("collection") == collection)
        self._overwrite_partitions(
            ops.delete_keys(part, collection, keys), touched=[collection]
        )

    def delete_collection(self, name: str) -> None:
        """W7: partition drop + registry removal — no data rewrite."""
        import shutil

        p = os.path.join(self.vectors_path, f"collection={name}")
        if os.path.exists(p):
            shutil.rmtree(p)
        self._write_registry(
            [tuple(r) for r in self.registry().collect() if r["collection"] != name]
        )

    def delete_empty(self, collection: str) -> None:
        """W8 explicit empty-key purge (never a read side effect)."""
        part = self.vectors().where(F.col("collection") == collection)
        self._overwrite_partitions(
            ops.delete_empty_keys(part, collection), touched=[collection]
        )

    # -- maintenance -------------------------------------------------------
    def compact(
        self,
        collection: str | None = None,
        target_file_bytes: int = 128 << 20,
    ) -> dict[str, tuple[int, int]]:
        """OPTIMIZE-style small-file compaction: bin-pack each collection
        partition's files into ⌈bytes/target⌉ outputs.

        Every upsert/delete batch rewrites its partition as
        ``spark.sql.shuffle.partitions``-many files; a write-heavy store
        accumulates small files, and at scale the scan's task count (and
        the file-listing cost) grows with file COUNT, not data size.
        Compaction reads the partition once, repartitions to the target
        count, stages to a sibling tmp dir, then swaps directories — the
        stage+swap exists because a partition cannot be overwritten
        while the plan is still lazily reading it (on an object store
        the same two steps are a multipart upload + prefix rename).
        Returns {collection: (files_before, files_after)}.
        """
        import glob
        import math
        import shutil

        if collection is not None:
            colls = [collection]
        else:
            colls = [
                d.split("=", 1)[1]
                for d in (
                    os.listdir(self.vectors_path)
                    if os.path.isdir(self.vectors_path)
                    else []
                )
                if d.startswith("collection=")
            ]
        out: dict[str, tuple[int, int]] = {}
        for c in colls:
            p = os.path.join(self.vectors_path, f"collection={c}")
            files = glob.glob(os.path.join(p, "*.parquet"))
            if not files:
                continue
            total = sum(os.path.getsize(f) for f in files)
            n_target = max(1, math.ceil(total / target_file_bytes))
            if len(files) <= n_target:
                out[c] = (len(files), len(files))
                continue
            part = (
                self.vectors()
                .where(F.col("collection") == c)
                .drop("collection")
            )
            tmp = p + ".compact_tmp"
            part.repartition(n_target).write.mode("overwrite").parquet(tmp)
            shutil.rmtree(p)
            os.makedirs(p)
            moved = 0
            for f in glob.glob(os.path.join(tmp, "*.parquet")):
                shutil.move(f, os.path.join(p, os.path.basename(f)))
                moved += 1
            shutil.rmtree(tmp, ignore_errors=True)
            out[c] = (len(files), moved)
        return out

    def vacuum(self, older_than, collection: str | None = None) -> int:
        """TTL retention: drop rows with ``ts`` strictly older than the
        cutoff; returns rows removed.  Only partitions that actually
        contain expired rows are rewritten (the expiry probe aggregates
        per collection first — a collection with nothing expired is
        never touched, so steady-state vacuums are near-free).  NULL
        timestamps never expire."""
        state = self.vectors()
        if collection is not None:
            state = state.where(F.col("collection") == collection)
        expired = F.col("ts").isNotNull() & (
            F.col("ts") < F.lit(older_than).cast("timestamp")
        )
        # expired rows per collection: names the partitions to rewrite and
        # counts what the rewrite removes, in one job before the overwrite
        # (NULL-collection rows sit in no named partition and are left)
        hit = {
            r["collection"]: r["count"]
            for r in state.where(expired).groupBy("collection").count().collect()
            if r["collection"] is not None
        }
        if not hit:
            return 0
        kept = state.where(F.col("collection").isin(list(hit)) & ~expired)
        self._overwrite_partitions(kept, touched=list(hit))
        return sum(hit.values())

    # -- P1 / R1 / S3 reads ------------------------------------------------
    def get(self, collection: str, key: str, with_embedding: bool = True):
        """P1/E3 point lookup: first match or None (MerkonDatabase.cs:26-32)."""
        df = (
            self.vectors()
            .where((F.col("collection") == collection) & (F.col("key") == key))
            .orderBy(F.asc("ingest_seq"))
            .limit(1)
        )
        if not with_embedding:
            df = df.drop("embedding")
        rows = df.collect()
        return rows[0] if rows else None

    def get_batch(
        self, collection: str, keys: Sequence[str], mode: str = "faithful"
    ) -> DataFrame:
        """R1 — see operators.store.get_batch for both modes' semantics."""
        return ops.get_batch(self.vectors(), collection, keys, mode)

    def scan(self, collection: str, with_embeddings: bool = True) -> DataFrame:
        """S3 partition-pruned collection scan (MerkonDatabase.cs:206-215)."""
        df = self.vectors().where(F.col("collection") == collection)
        return df if with_embeddings else df.drop("embedding")

    # -- §2.4 search over the store's layout -------------------------------
    def search(self, collection: str, query, k: int, min_score: float = 0.0,
               with_embeddings: bool = False) -> DataFrame:
        """GetNearestMatches over this store: brute-force cosine top-k,
        scored with the single-fold dot path when the store is
        ``pre_normalized`` (the layout makes the two identical)."""
        from merkonvectordb_spark.operators.search import knn

        return knn(
            self.scan(collection),
            query,
            k=k,
            min_score=min_score,
            with_embeddings=with_embeddings,
            assume_normalized=self.pre_normalized,
        )

    def search_batch(self, collection: str, queries: DataFrame, k: int,
                     min_score: float = 0.0) -> DataFrame:
        """Batch form: one corpus scan for the whole query set."""
        from merkonvectordb_spark.operators.search import knn_batch

        return knn_batch(
            self.scan(collection),
            queries,
            k=k,
            min_score=min_score,
            assume_normalized=self.pre_normalized,
        )
