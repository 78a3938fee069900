"""The write/CRUD surface (SURVEY.md §2.3 W1-W11, §2.5 R1) as PURE
DataFrame transforms: (current state, change set) → new state.

The reference mutates an in-memory ``List<DatabaseEntry>`` and rewrites
the whole database file per mutation (MerkonDatabase.cs:89-104,149-162).
Here every mutation is a declarative plan over the current table state —
the stateful parquet-backed wrapper (``sources.vector_store.VectorStore``)
applies these transforms with dynamic partition overwrite, rewriting only
affected collections; a Delta/Iceberg deployment would express the same
transforms as ``MERGE INTO`` / ``DELETE``.

Observable semantics replicated from the reference:

* **first-match-wins on duplicate keys** — upsert updates the FIRST
  matching entry (lowest ``ingest_seq``, the stand-in for list position),
  delete removes the first match; later duplicates are untouched
  (MerkonDatabase.cs:30,62,93);
* **key ← metadata.id** before upsert (MerkonMemoryStore.cs:240);
* updated rows keep their original ``ingest_seq`` (in-place list update),
  inserted rows get fresh sequence numbers after the current max;
* **InsertOrIgnore upserts** — the reference's double-write
  (MerkonMemoryStore.cs:243-260) is observably one upsert; we run one.

Scale shape: the deletes and lookups are key-equi filters/joins between
the (100 TB) state and a (small) change set, with the change set
broadcast; upsert co-partitions the change set with the state in one
exchange on (collection, key).  The per-key ``row_number`` windows only
run over collections touched by the change set when applied through
VectorStore.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STATE_COLS = ("collection", "key", "metadata", "embedding", "ts", "ingest_seq")

_MERGE_KEYS = ["collection", "key"]
_PAYLOAD = ("metadata", "embedding", "ts")


def _first_match_rank(state: DataFrame) -> DataFrame:
    """Rank duplicate keys by ingest order: rn=1 is the row the reference's
    linear scan would find first (MerkonDatabase.cs:30)."""
    w = Window.partitionBy("collection", "key").orderBy(F.asc("ingest_seq"))
    return state.withColumn("__rn", F.row_number().over(w))


def with_key_from_metadata(records: DataFrame) -> DataFrame:
    """W3: overwrite ``key`` with ``metadata.id`` (MerkonMemoryStore.cs:240)
    — the metadata id is the true primary key.  Goes through the typed
    ``METADATA_STRUCT`` decode (schema.parse_metadata), the declared F3
    design: one ``from_json`` parse, then struct projections."""
    from merkonvectordb_spark.schema import parse_metadata

    return (
        parse_metadata(records, out_col="__meta")
        .withColumn("key", F.col("__meta").getField("id"))
        .drop("__meta")
    )


def upsert(
    state: DataFrame,
    updates: DataFrame,
    order_col: str | None = None,
    bulk_inserts: bool = False,
    seq_base: int | None = None,
) -> DataFrame:
    """W1/W2/W4 batched InsertOrUpdate (MerkonDatabase.cs:89-104).

    Per (collection, key): update the first matching row in place (payload
    from ``updates``, original ``ingest_seq`` kept), else append with a
    fresh ``ingest_seq`` after the current max.  ``updates`` must carry
    ``collection, key, metadata, embedding, ts``; duplicate keys within
    ``updates`` collapse to the last occurrence (the reference applies
    batch items sequentially, so the last write wins,
    MerkonMemoryStore.cs:71-78).

    Determinism: "last occurrence" needs a batch order.  Pass ``order_col``
    (a column in ``updates``, ascending = application order) whenever the
    batch came through a shuffle/join — without it we fall back to
    ``monotonically_increasing_id``, which reflects partition layout and is
    only a faithful batch order for locally-constructed / ordered inputs.

    Fresh inserts are numbered after ``seq_base``, a driver literal: the
    state's max ``ingest_seq`` (one job reads it when ``None``), or a
    larger one a caller already holds, e.g. the store-wide max when
    ``state`` is a few collections of it.

    Scale guard: fresh-insert sequence numbers need a total order over
    the inserted keys.  The default path ranks them with a global
    ``row_number`` window — single-partition, fine for CRUD-sized
    batches (the intended write path) but a one-task cliff for bulk
    loads.  Pass ``bulk_inserts=True`` to route the ranking through the
    distributed two-pass prefix sum instead
    (``operators.pipeline.global_exclusive_prefix_sum``: range shuffle +
    P driver-side partition counts); both paths assign IDENTICAL
    sequence numbers — (collection, key) ascending — so the choice is
    purely a physical one.
    """
    order = (
        F.col(order_col)
        if order_col is not None
        else F.monotonically_increasing_id()
    )
    ord_type = updates.select(order).schema.fields[0].dataType
    # State rows (__src 0) and batch rows (__src 1) share ONE frame: one
    # exchange on the merge keys carries both, and one pass of per-key
    # windows resolves the merge without a join.  The kept and fresh
    # branches below read every column of that frame, so their plans
    # share the exchange (AQE reuses it) and each input is read once.
    both = state.select(
        *STATE_COLS,
        F.lit(0).alias("__src"),
        F.lit(None).cast(ord_type).alias("__uord"),
    ).unionByName(
        updates.select(
            *_MERGE_KEYS,
            *_PAYLOAD,
            F.lit(None).cast("long").alias("ingest_seq"),
            F.lit(1).alias("__src"),
            order.alias("__uord"),
        )
    )
    per_key = Window.partitionBy(*_MERGE_KEYS)
    # __rn 1: the first match (state rows first, in ingest order);
    # __urn 1 on a batch row: the batch's last write to the key
    first_w = per_key.orderBy(F.asc("__src"), F.asc("ingest_seq"))
    last_w = per_key.orderBy(F.desc("__src"), F.desc("__uord"))
    winner = (F.col("__src") == 1) & (F.col("__urn") == 1)
    ranked = (
        both.withColumn("__rn", F.row_number().over(first_w))
        .withColumn("__urn", F.row_number().over(last_w))
        .withColumn(
            "__new",
            F.first(F.when(winner, F.struct(*_PAYLOAD)), ignorenulls=True).over(per_key),
        )
        .withColumn("__has_state", F.min("__src").over(per_key) == 0)
    )
    # NULL keys never match (SQL equality): a NULL-key batch row is
    # always a fresh insert and NULL-key state rows are never updated
    matchable = F.col("collection").isNotNull() & F.col("key").isNotNull()
    take = (
        (F.col("__src") == 0)
        & (F.col("__rn") == 1)
        & F.col("__new").isNotNull()
        & matchable
    )
    is_fresh = winner & (~F.col("__has_state") | ~matchable)
    merged = ranked.where((F.col("__src") == 0) | is_fresh).select(
        *_MERGE_KEYS,
        *[F.when(take, F.col("__new")[c]).otherwise(F.col(c)).alias(c) for c in _PAYLOAD],
        "ingest_seq",
        "__src",
    )
    kept = merged.where(F.col("__src") == 0).select(*STATE_COLS)
    fresh = merged.where(F.col("__src") == 1).drop("ingest_seq")
    if seq_base is None:
        seq_base = state.agg(F.max("ingest_seq")).first()[0] or 0
    if bulk_inserts:
        from merkonvectordb_spark.operators.pipeline import (
            global_exclusive_prefix_sum,
        )

        ranked_ins = global_exclusive_prefix_sum(
            fresh.withColumn("__one", F.lit(1)),
            ["collection", "key"],
            "__one",
            out_col="__ord0",
        )
        fresh = ranked_ins.withColumn("__ord", F.col("__ord0") + 1)
    else:
        ins_w = Window.orderBy(F.asc("collection"), F.asc("key"))
        fresh = fresh.withColumn("__ord", F.row_number().over(ins_w))
    inserted = fresh.withColumn(
        "ingest_seq", F.lit(seq_base).cast("long") + F.col("__ord")
    ).select(*STATE_COLS)
    return kept.unionByName(inserted)


def delete_keys(
    state: DataFrame, collection: str, keys: Sequence[str]
) -> DataFrame:
    """W5/W6 delete item / batch: remove the FIRST entry matching each key
    (MerkonDatabase.cs:58-70); later duplicates survive."""
    ranked = _first_match_rank(state)
    # null-safe: a NULL key is never "in" the delete list (the reference's
    # x.Key == key is false for null) — without coalesce, ~NULL filters the
    # row out and delete would silently drop unrelated NULL-key rows.
    # eqNullSafe on collection too: a NULL-collection row makes a plain
    # == evaluate NULL, ~NULL filters the row out, and a delete in
    # collection 'a' would silently destroy unrelated NULL-collection rows
    hit = (
        F.col("collection").eqNullSafe(F.lit(collection))
        & F.coalesce(F.col("key").isin(list(keys)), F.lit(False))
        & (F.col("__rn") == 1)
    )
    return ranked.where(~hit).drop("__rn")


def delete_collection(state: DataFrame, collection: str) -> DataFrame:
    """W7 drop a whole collection (MerkonDatabase.cs:49-56).  Through
    VectorStore this is a partition drop — no data rewrite.  Null-safe:
    NULL-collection rows are NOT the dropped collection and survive."""
    return state.where(
        ~F.col("collection").eqNullSafe(F.lit(collection))
    )


def delete_empty_keys(state: DataFrame, collection: str) -> DataFrame:
    """W8 purge null/empty keys in one collection (MerkonDatabase.cs:72-88).
    The reference runs this as a side effect of every search
    (MerkonMemoryStore.cs:226); we only ever run it explicitly."""
    in_coll = F.col("collection") == collection
    empty = F.col("key").isNull() | (F.col("key") == "")
    return state.where(~(in_coll & empty))


def get_batch(
    state: DataFrame,
    collection: str,
    keys: Sequence[str],
    mode: str = "faithful",
) -> DataFrame:
    """R1 GetBatch (MerkonMemoryStore.cs:87-102).

    ``mode="faithful"``: iterate requested keys in order, yield first-match
    records, STOP at the first missing key (the reference's ``yield break``
    at :97-100 — prefix semantics).  ``mode="join"``: the sane semi-join
    shape (all present keys, no early stop).

    Output carries ``req_ord`` (the request position) so callers/oracles
    can reproduce the request order deterministically.
    """
    if mode not in ("faithful", "join"):
        raise ValueError(f"unknown get_batch mode: {mode!r}")
    spark = state.sparkSession
    req = F.broadcast(
        spark.createDataFrame(
            [(i, k) for i, k in enumerate(keys)], "req_ord INT, key STRING"
        )
    )
    first = (
        _first_match_rank(state)
        .where((F.col("collection") == collection) & (F.col("__rn") == 1))
        .drop("__rn")
    )
    joined = req.join(first, "key", "left")
    if mode == "join":
        return joined.where(F.col("ingest_seq").isNotNull()).select(
            "req_ord", *STATE_COLS
        )
    # faithful: keep only positions before the first miss
    first_miss = F.broadcast(
        joined.where(F.col("ingest_seq").isNull()).agg(
            F.coalesce(F.min("req_ord"), F.lit(2_147_483_647)).alias("__miss")
        )
    )
    return (
        joined.crossJoin(first_miss)
        .where(F.col("req_ord") < F.col("__miss"))
        .select("req_ord", *STATE_COLS)
    )


# ---------------------------------------------------------------------------
# §2.6 F6 name validation / sanitization
# ---------------------------------------------------------------------------

# \z, not $: Java's $ matches BEFORE a final line terminator, so
# 'events\n' would validate and the newline would land in a
# collection=... partition directory name
_VALID_NAME_RE = "^[0-9A-Za-z_]+\\z"


def sanitize_db_name(name: F.Column) -> F.Column:
    """Database-name sanitization: spaces → underscores
    (MerkonDatabase.cs:124)."""
    return F.regexp_replace(name, " ", "_")


def is_valid_collection_name(name: F.Column) -> F.Column:
    """SK collection-name validation: non-empty ASCII letters/digits/
    underscore (Diagnostics/Verify.cs:39-61)."""
    return name.isNotNull() & name.rlike(_VALID_NAME_RE)
