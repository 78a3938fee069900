"""CRUD/store surface: reference quirk parity (SURVEY §5.2.3/§5.2.4) for
W1-W11 + R1, pure-transform level and parquet-backed VectorStore level."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from merkonvectordb_spark.operators import store as ops
from merkonvectordb_spark.schema import VECTORS_SCHEMA_DDL
from merkonvectordb_spark.sources.vector_store import VectorStore

TS = dt.datetime(2026, 1, 1)


def _state(spark, rows):
    return spark.createDataFrame(rows, VECTORS_SCHEMA_DDL)


@pytest.fixture()
def base(spark):
    return _state(
        spark,
        [
            ("c0", "a", '{"id":"a"}', [1.0, 0.0], TS, 1),
            ("c0", "b", '{"id":"b"}', [0.0, 1.0], TS, 2),
            ("c0", "dup", '{"id":"dup"}', [1.0, 1.0], TS, 3),
            ("c0", "dup", '{"id":"dup"}', [2.0, 2.0], TS, 4),  # later duplicate
            ("c1", "a", '{"id":"a"}', [0.5, 0.5], TS, 5),  # same key, other coll
        ],
    )


def _upd(spark, rows):
    return spark.createDataFrame(
        rows, "collection STRING, key STRING, metadata STRING, embedding ARRAY<FLOAT>, ts TIMESTAMP"
    )


def test_upsert_updates_first_match_keeps_seq(spark, base):
    upd = _upd(spark, [("c0", "dup", '{"id":"dup","v":2}', [9.0, 9.0], TS)])
    out = ops.upsert(base, upd)
    dups = sorted(
        out.where("collection='c0' AND key='dup'").collect(),
        key=lambda r: r.ingest_seq,
    )
    # first match (seq 3) updated in place, later duplicate (seq 4) untouched
    assert [r.ingest_seq for r in dups] == [3, 4]
    assert dups[0].embedding == [9.0, 9.0] and '"v":2' in dups[0].metadata
    assert dups[1].embedding == [2.0, 2.0]
    # other collection's same-named key untouched
    assert out.where("collection='c1' AND key='a'").first().embedding == [0.5, 0.5]


def test_upsert_inserts_with_fresh_seq(spark, base):
    upd = _upd(spark, [("c0", "new", '{"id":"new"}', [3.0, 0.0], TS)])
    out = ops.upsert(base, upd)
    assert out.count() == 6
    assert out.where("key='new'").first().ingest_seq == 6  # max(5)+1


def test_upsert_bulk_inserts_matches_window_path(spark, base):
    """The bulk-load insert ranking (distributed prefix sum) must assign
    the IDENTICAL sequence numbers the CRUD-sized window path does — the
    flag is a physical choice only.  Batch is big enough to span many
    partitions."""
    rows = [
        ("c0", f"bulk{i:05d}", '{"id":"bulk%05d"}' % i, [float(i), 0.0], TS)
        for i in range(2000)
    ]
    upd = _upd(spark, rows).repartition(16)
    small = ops.upsert(base, upd)
    bulk = ops.upsert(base, upd, bulk_inserts=True)
    a = sorted((r.collection, r.key, r.ingest_seq) for r in small.collect())
    b = sorted((r.collection, r.key, r.ingest_seq) for r in bulk.collect())
    assert a == b
    # the insert ranking went through the distributed prefix sum: its
    # localCheckpoint boundary appears as an ExistingRDD scan, and no
    # single-partition (empty partition spec) Window ranks the batch
    plan = bulk._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    import re as _re

    for m in _re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        seg = m.group(1)
        assert not (" ASC" in seg or " DESC" in seg), (
            "single-partition window ranks the bulk insert batch"
        )


def test_upsert_idempotent(spark, base):
    """SURVEY §5.2.4 property: upsert∘upsert = upsert."""
    upd = _upd(spark, [("c0", "a", '{"id":"a","v":1}', [7.0, 0.0], TS)])
    once = ops.upsert(base, upd)
    twice = ops.upsert(once, upd)
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b


def test_upsert_batch_last_write_wins(spark, base):
    upd = _upd(
        spark,
        [
            ("c0", "a", '{"id":"a","v":1}', [1.0, 1.0], TS),
            ("c0", "a", '{"id":"a","v":2}', [2.0, 2.0], TS),
        ],
    )
    out = ops.upsert(base, upd)
    rows = out.where("collection='c0' AND key='a'").collect()
    assert len(rows) == 1 and '"v":2' in rows[0].metadata


def test_upsert_null_keys_never_match(spark):
    """SQL equality: a NULL key (or collection) in the batch matches no
    state row, so it inserts fresh, and NULL-key state rows stay as they
    were; duplicate NULL-key batch rows still collapse to the last."""
    st = _state(
        spark,
        [("c0", None, "s1", [1.0], TS, 1), (None, "k", "s2", [1.0], TS, 2)],
    )
    upd = spark.createDataFrame(
        [
            ("c0", None, "u0", [2.0], TS, 0),
            ("c0", None, "u1", [2.0], TS, 1),
            (None, "k", "u2", [2.0], TS, 2),
        ],
        "collection STRING, key STRING, metadata STRING, "
        "embedding ARRAY<FLOAT>, ts TIMESTAMP, o INT",
    )
    out = ops.upsert(st, upd, order_col="o")
    got = sorted(
        (r.metadata, r.ingest_seq) for r in out.collect()
    )
    # fresh seqs in (collection, key) order, NULLs first
    assert got == [("s1", 1), ("s2", 2), ("u1", 4), ("u2", 3)]


def test_key_from_metadata(spark):
    rec = _upd(spark, [("c0", "WRONG", '{"id":"right"}', [1.0], TS)])
    out = ops.with_key_from_metadata(rec)
    assert out.first().key == "right"  # MerkonMemoryStore.cs:240


def test_delete_removes_first_match_only(spark, base):
    out = ops.delete_keys(base, "c0", ["dup", "a"])
    c0 = {(r.key, r.ingest_seq) for r in out.where("collection='c0'").collect()}
    assert c0 == {("b", 2), ("dup", 4)}  # seq-3 'dup' gone, seq-4 survives
    assert out.where("collection='c1'").count() == 1  # other collection intact


def test_delete_then_upsert_roundtrip(spark, base):
    """property: delete∘upsert ⇒ present again; upsert∘delete ⇒ absent."""
    upd = _upd(spark, [("c0", "a", '{"id":"a"}', [1.0, 0.0], TS)])
    gone = ops.delete_keys(base, "c0", ["a"])
    assert gone.where("collection='c0' AND key='a'").count() == 0
    back = ops.upsert(gone, upd)
    assert back.where("collection='c0' AND key='a'").count() == 1


def test_delete_keys_keeps_null_key_rows(spark):
    """NULL-key rows are never 'in' the delete list — a non-null-safe isin
    would silently drop them (~NULL is NULL)."""
    st = _state(
        spark,
        [
            ("c0", None, "{}", [1.0], TS, 1),
            ("c0", "a", "{}", [1.0], TS, 2),
        ],
    )
    out = ops.delete_keys(st, "c0", ["a"])
    assert [r.ingest_seq for r in out.collect()] == [1]


def test_delete_empty_keys(spark):
    st = _state(
        spark,
        [
            ("c0", "", "{}", [1.0], TS, 1),
            ("c0", None, "{}", [1.0], TS, 2),
            ("c0", "k", "{}", [1.0], TS, 3),
            ("c1", "", "{}", [1.0], TS, 4),  # other collection untouched
        ],
    )
    out = ops.delete_empty_keys(st, "c0")
    assert {r.ingest_seq for r in out.collect()} == {3, 4}


def test_get_batch_prefix_semantics(spark, base):
    # MerkonMemoryStore.cs:97-100 — stop at FIRST missing key
    got = ops.get_batch(base, "c0", ["a", "b", "missing", "dup"], mode="faithful")
    assert [r.key for r in got.orderBy("req_ord").collect()] == ["a", "b"]
    # sane mode: all present keys, no early stop; first-match rows only
    got2 = ops.get_batch(base, "c0", ["a", "b", "missing", "dup"], mode="join")
    rows = got2.orderBy("req_ord").collect()
    assert [r.key for r in rows] == ["a", "b", "dup"]
    assert rows[2].ingest_seq == 3  # first match of the duplicate
    with pytest.raises(ValueError):
        ops.get_batch(base, "c0", ["a"], mode="nope")


def test_name_validation(spark):
    df = spark.createDataFrame(
        [("ok_Name1",), ("bad name",), ("",), (None,), ("héllo",)], "n STRING"
    )
    got = df.select(
        ops.is_valid_collection_name(F.col("n")).alias("v"),
        ops.sanitize_db_name(F.col("n")).alias("s"),
    ).collect()
    assert [r.v for r in got] == [True, False, False, False, False]
    assert got[1].s == "bad_name"


# ---------------------------------------------------------------------------
# parquet-backed VectorStore (stateful, partition-overwrite writes)
# ---------------------------------------------------------------------------


def test_vector_store_end_to_end(spark, tmp_path):
    store = VectorStore(spark, str(tmp_path))
    store.create_table()

    # W9/W11: empty collection exists only via registry
    assert not store.collection_exists("c_empty")
    store.create_collection("c_empty")
    assert store.collection_exists("c_empty")

    # W1/W3: upsert with key←metadata.id
    recs = spark.createDataFrame(
        [
            ("c0", "ignored", '{"id":"k1"}', [1.0, 0.0], TS),
            ("c0", "ignored", '{"id":"k2"}', [0.0, 1.0], TS),
            ("c1", "ignored", '{"id":"k1"}', [0.5, 0.5], TS),
        ],
        "collection STRING, key STRING, metadata STRING, embedding ARRAY<FLOAT>, ts TIMESTAMP",
    )
    store.upsert(recs)
    assert store.vectors().count() == 3
    assert {r.key for r in store.scan("c0").collect()} == {"k1", "k2"}

    # P1 point lookup
    got = store.get("c0", "k1", with_embedding=False)
    assert got is not None and "embedding" not in got.asDict()
    assert store.get("c0", "nope") is None

    # W1 update in place: same key, new payload, seq stable
    seq_before = store.get("c0", "k1").ingest_seq
    upd = spark.createDataFrame(
        [("c0", "x", '{"id":"k1","v":2}', [9.0, 9.0], TS)],
        "collection STRING, key STRING, metadata STRING, embedding ARRAY<FLOAT>, ts TIMESTAMP",
    )
    store.upsert(upd)
    after = store.get("c0", "k1")
    assert after.ingest_seq == seq_before and after.embedding == [9.0, 9.0]
    assert store.vectors().count() == 3
    # c1 partition untouched by a c0-only write
    assert store.get("c1", "k1").embedding == [0.5, 0.5]

    # R1 faithful
    assert [
        r.key for r in store.get_batch("c0", ["k1", "zzz", "k2"]).collect()
    ] == ["k1"]

    # W5/W6 delete
    store.delete("c0", "k1")
    assert store.get("c0", "k1") is None
    assert store.get("c1", "k1") is not None

    # W7 delete collection = partition drop
    store.delete_collection("c1")
    assert not store.collection_exists("c1")
    assert store.vectors().where("collection='c1'").count() == 0

    # S4 list: registry ∪ data
    colls = {r.collection for r in store.list_collections().collect()}
    assert colls == {"c0", "c_empty"}


def test_vector_store_upsert_seq_spans_collections(spark, tmp_path):
    """Inserted seqs must be unique across ALL collections even when the
    write touches only one partition."""
    store = VectorStore(spark, str(tmp_path))
    a = spark.createDataFrame(
        [("cA", "x", '{"id":"a1"}', [1.0], TS)],
        "collection STRING, key STRING, metadata STRING, embedding ARRAY<FLOAT>, ts TIMESTAMP",
    )
    store.upsert(a)
    b = spark.createDataFrame(
        [("cB", "x", '{"id":"b1"}', [1.0], TS)],
        "collection STRING, key STRING, metadata STRING, embedding ARRAY<FLOAT>, ts TIMESTAMP",
    )
    store.upsert(b)
    seqs = sorted(r.ingest_seq for r in store.vectors().collect())
    assert seqs == [1, 2]


def test_compaction_binpacks_files_and_preserves_rows(spark, tmp_path):
    import glob
    import os

    store = VectorStore(spark, str(tmp_path))
    # 5 upsert batches -> each rewrites the partition as up-to-32 files
    for b in range(5):
        recs = spark.createDataFrame(
            [
                ("c0", "x", '{"id":"k%d_%d"}' % (b, i), [float(b), float(i)], TS)
                for i in range(20)
            ],
            "collection STRING, key STRING, metadata STRING, "
            "embedding ARRAY<FLOAT>, ts TIMESTAMP",
        )
        store.upsert(recs)
    part = os.path.join(str(tmp_path), "vectors", "collection=c0")
    before_rows = sorted(
        (r.key, r.ingest_seq) for r in store.vectors().collect()
    )
    n_files_before = len(glob.glob(os.path.join(part, "*.parquet")))
    assert n_files_before > 1

    stats = store.compact("c0", target_file_bytes=1 << 30)
    n_before, n_after = stats["c0"]
    assert n_before == n_files_before and n_after == 1
    assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1
    # identical table state after compaction (content, not layout)
    after_rows = sorted(
        (r.key, r.ingest_seq) for r in store.vectors().collect()
    )
    assert after_rows == before_rows
    # idempotent: already-compacted partitions are left untouched
    assert store.compact("c0", target_file_bytes=1 << 30)["c0"] == (1, 1)


def test_vacuum_expires_only_old_rows(spark, tmp_path):
    import datetime as dt

    store = VectorStore(spark, str(tmp_path))
    old, new = dt.datetime(2020, 1, 1), dt.datetime(2024, 6, 1)
    recs = spark.createDataFrame(
        [
            ("c0", "x", '{"id":"old1"}', [1.0, 0.0], old),
            ("c0", "x", '{"id":"new1"}', [0.0, 1.0], new),
            ("c1", "x", '{"id":"new2"}', [0.5, 0.5], new),
            ("c1", "x", '{"id":"nots"}', [0.5, 0.5], None),
        ],
        "collection STRING, key STRING, metadata STRING, "
        "embedding ARRAY<FLOAT>, ts TIMESTAMP",
    )
    store.upsert(recs)
    removed = store.vacuum(dt.datetime(2022, 1, 1))
    assert removed == 1
    left = {r.key for r in store.vectors().collect()}
    assert left == {"new1", "new2", "nots"}  # NULL ts never expires
    # steady state: nothing expired, nothing rewritten, zero removed
    assert store.vacuum(dt.datetime(2022, 1, 1)) == 0


def test_delete_last_row_empties_collection(spark, tmp_path):
    """Review finding (confirmed): dynamic partition overwrite never
    replaces a partition absent from the output — deleting a
    collection's last row must drop the partition explicitly."""
    from merkonvectordb_spark.sources.vector_store import VectorStore

    store = VectorStore(spark, str(tmp_path / "vs_empty"))
    store.create_table()
    upd = _upd(
        spark, [("solo", "k1", '{"id":"k1"}', [1.0, 0.0], TS)]
    )
    store.upsert(upd, key_from_metadata=False)
    assert store.vectors().where(F.col("collection") == "solo").count() == 1
    store.delete("solo", "k1")
    assert store.vectors().where(F.col("collection") == "solo").count() == 0


def test_vacuum_purges_fully_expired_collection(spark, tmp_path):
    from datetime import datetime, timedelta

    from merkonvectordb_spark.sources.vector_store import VectorStore

    store = VectorStore(spark, str(tmp_path / "vs_vac"))
    store.create_table()
    old_ts = datetime(2020, 1, 1)
    upd = _upd(
        spark, [("stale", "k1", '{"id":"k1"}', [1.0, 0.0], old_ts)]
    )
    store.upsert(upd, key_from_metadata=False)
    removed = store.vacuum(old_ts + timedelta(days=1))
    assert removed == 1
    assert store.vectors().where(F.col("collection") == "stale").count() == 0


def test_upsert_null_collection_raises_before_writing(spark, tmp_path):
    """A NULL collection fits no partition: dynamic overwrite would
    replace the default partition (destroying its rows) and the registry
    would gain a NULL entry per call.  The batch is refused whole."""
    store = VectorStore(spark, str(tmp_path))
    store.upsert(_upd(spark, [("c1", "x", "{}", [1.0], TS)]), key_from_metadata=False)
    bad = _upd(
        spark, [(None, "a", "{}", [1.0], TS), ("c1", "y", "{}", [1.0], TS)]
    )
    with pytest.raises(ValueError, match="NULL collection"):
        store.upsert(bad, key_from_metadata=False)
    assert [(r.collection, r.key) for r in store.vectors().collect()] == [("c1", "x")]
    assert [tuple(r) for r in store.registry().collect()] == [("c1", 1)]


def test_upsert_registers_new_collections_in_one_write(spark, tmp_path, monkeypatch):
    store = VectorStore(spark, str(tmp_path))
    writes = []
    real = store._write_registry
    monkeypatch.setattr(
        store, "_write_registry", lambda rows: (writes.append(rows), real(rows))
    )
    store.create_collection("c_old")
    recs = _upd(
        spark,
        [(c, "k", "{}", [1.0], TS) for c in ("zeta", "alpha", "mid", "c_old")],
    )
    store.upsert(recs, key_from_metadata=False)
    assert len(writes) == 2  # create_collection, then one for the three new
    assert sorted(tuple(r) for r in store.registry().collect()) == [
        ("alpha", 2), ("c_old", 1), ("mid", 3), ("zeta", 4),
    ]
    # existing collections only: the registry is read, never rewritten
    store.upsert(_upd(spark, [("mid", "k2", "{}", [1.0], TS)]), key_from_metadata=False)
    assert len(writes) == 2


def test_upsert_conforms_the_batch_to_the_table_types(spark, tmp_path):
    """A double-typed embedding batch (what createDataFrame infers from
    Python floats) after a float one must leave every row readable: the
    batch is cast to VECTORS_SCHEMA_DDL before it is written.  A
    non-array embedding is refused before anything is written."""
    store = VectorStore(spark, str(tmp_path))
    store.upsert(
        _upd(spark, [("c0", f"k{i}", "{}", [float(i), 1.0], TS) for i in range(3)]),
        key_from_metadata=False,
    )
    doubles = spark.createDataFrame(
        [("c0", f"k{i}", "{}", [float(i), 1.0], TS) for i in range(3, 6)],
        "collection STRING, key STRING, metadata STRING, "
        "embedding ARRAY<DOUBLE>, ts TIMESTAMP",
    )
    store.upsert(doubles, key_from_metadata=False)
    hits = store.search("c0", [1.0, 1.0], k=6).collect()
    assert sorted(r.key for r in hits) == [f"k{i}" for i in range(6)]
    assert store.scan("c0").schema["embedding"].dataType.simpleString() == (
        "array<float>"
    )
    text = spark.createDataFrame(
        [("c0", "k9", "{}", "[1.0, 1.0]", TS)],
        "collection STRING, key STRING, metadata STRING, embedding STRING, "
        "ts TIMESTAMP",
    )
    with pytest.raises(ValueError, match="numeric array embedding"):
        store.upsert(text, key_from_metadata=False)
    assert store.scan("c0").count() == 6


def test_upsert_job_budget_and_releases_its_blocks(spark, tmp_path):
    """One upsert into an existing collection: the batch is read once and
    the store's metadata once, so the whole call fits in 14 Spark jobs,
    and neither the batch's nor the merge's checkpoint outlives it."""
    sc = spark.sparkContext
    store = VectorStore(spark, str(tmp_path))
    rows = [("c0", f"k{i}", "{}", [float(i), 1.0], TS) for i in range(40)]
    store.upsert(_upd(spark, rows), key_from_metadata=False)
    batch = _upd(
        spark, [("c0", f"k{i}", '{"v":2}', [2.0, 2.0], TS) for i in range(30, 50)]
    )
    before = {r.key: r.ingest_seq for r in store.scan("c0").collect()}
    n_rdds = len(sc._jsc.getPersistentRDDs())
    sc.setJobGroup("test_upsert_job_budget", "one upsert")
    try:
        store.upsert(batch, key_from_metadata=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test_upsert_job_budget")
    assert len(jobs) <= 14, f"{len(jobs)} jobs"
    assert len(sc._jsc.getPersistentRDDs()) <= n_rdds
    got = {r.key: (r.metadata, r.ingest_seq) for r in store.scan("c0").collect()}
    assert len(got) == 50
    assert got["k30"] == ('{"v":2}', before["k30"])  # updated in place
    assert sorted(got[f"k{i}"][1] for i in range(40, 50)) == list(range(41, 51))
