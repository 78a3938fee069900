#!/usr/bin/env python
"""Generate a LARGER synthetic fixture with the exact driver-testdata
schemas, for scale-exponent probing beyond the provided sf0.1
(VERDICT r6 next-round #4).

The driver's /root/testdata is read-only and tops out at sf0.1; this
writes a statistically similar sf (default 1.0 = 10x sf0.1) to a
WRITABLE directory (default /tmp/scalefix/sf1).  Schemas and value
domains mirror the driver tables byte-for-byte (TESTDATA.md); row
counts follow the driver's own per-table scaling (x10 per decade,
embeddings x4 — measured between sf0.01 and sf0.1).  The data is NOT
the driver's (seed differs, content differs) — it is for TIMING only,
never for oracle verification; correctness stays pinned to the
driver's sf0.01.

Usage: python tools/gen_scale_fixture.py [sf] [out_dir]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector join shuffle plan stage task broadcast skew limit"
).split()

LANGS = ["en", "en", "en", "en", "es", "es", "de", "de", "fr", "zh"]
EVENT_TYPES = ["view", "view", "view", "click", "click", "purchase", "signup", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy")
    print(f"  {name}: {table.num_rows} rows -> {path}", file=sys.stderr)


def main() -> int:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    out_dir = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/scalefix/sf{sf:g}"
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(4242)
    scale = sf / 0.1  # multiples of the provided sf0.1

    def n_of(base: int, exp: float = 1.0) -> int:
        return max(1, int(round(base * scale**exp)))

    day_us = 86_400_000_000

    # region / nation: fixed dimensions at every sf
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": [f"REGION{i}" for i in range(5)],
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    n_cust = n_of(15_000)
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(
            rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(
            np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(
            rng.choice(["BUILDING", "AUTOMOBILE", "MACHINERY",
                        "HOUSEHOLD", "FURNITURE"], n_cust)),
    }))

    n_supp = n_of(1_000)
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(
            rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(
            np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    }))

    n_part = n_of(20_000)
    types = [f"{a} {b} {c}"
             for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
             for b in ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
             for c in ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"part {i} {VOCAB[i % len(VOCAB)]}" for i in range(n_part)],
        "p_brand": pa.array(
            [f"Brand#{i}{j}" for i, j in zip(
                rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))]),
        "p_type": pa.array(rng.choice(types, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(rng.uniform(900.0, 2100.0, n_part), 2)),
    }))

    n_ord = n_of(150_000)
    base_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
    odate = base_1995 + rng.integers(0, 2400, n_ord) * day_us
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord, p=[0.48, 0.48, 0.04])),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 450000.0, n_ord), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    }))

    n_li = n_of(600_000)
    lkey = np.sort(rng.integers(0, n_ord, n_li).astype(np.int64))
    lnum = np.ones(n_li, dtype=np.int32)
    # per-order line numbers: positions where the (sorted) order key repeats
    same = np.concatenate(([False], lkey[1:] == lkey[:-1]))
    run = np.ones(n_li, dtype=np.int32)
    # vectorized run index via cumulative segments
    seg_starts = np.flatnonzero(~same)
    run = (np.arange(n_li) - np.repeat(seg_starts, np.diff(
        np.append(seg_starts, n_li)))).astype(np.int32)
    lnum = run + 1
    sdate = base_1995 + rng.integers(0, 2520, n_li) * day_us
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(lkey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["N", "A", "R"], n_li, p=[0.5, 0.25, 0.25])),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array(sdate.astype("datetime64[us]")),
    }))

    n_ev = n_of(100_000)
    n_users = n_of(1_500)
    base_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
    # Default: UNIFORM user assignment, matching the driver fixture
    # (measured at sf0.1: top user 99 events of 100k over 1500 users —
    # multinomial-uniform, NO heavy head; an earlier zipf-0.7 default
    # here put 1.8% of ALL events on one user and inflated the
    # streaming_stream_join scale probe to slope 1.66 by quadratically
    # growing per-user pair density — a fixture artifact, not a plan
    # property).  SCALE_ZIPF_USERS=1 opts into the adversarial head for
    # skew-stress probes; slopes measured under it are about the
    # OUTPUT's growth on skewed data, not the implementation's.
    # SCALE_ZIPF_USERS=0 must DISABLE, not enable (ADVICE r8)
    if os.environ.get("SCALE_ZIPF_USERS", "0") not in ("", "0"):
        uw = 1.0 / np.arange(1, n_users + 1) ** 0.7
        user_ids = rng.choice(n_users, n_ev, p=uw / uw.sum()).astype(np.int64)
    else:
        user_ids = rng.integers(0, n_users, n_ev).astype(np.int64)
    ets = np.sort(base_2024 + rng.integers(0, 30 * day_us, n_ev))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ets.astype("datetime64[us]")),
        "user_id": pa.array(user_ids),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev), 4)),
        "props": pa.array(
            [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    }))

    n_doc = n_of(5_000)
    n_src = 20
    lens = rng.integers(10, 80, n_doc)
    # SCALE_VOCAB=N draws document words from an N-word synthetic
    # vocabulary (zipf-ish ranks over "w<i>" tokens) instead of the
    # 33-word default.  The default's tiny vocabulary makes shingle
    # sets increasingly self-similar as the corpus grows — rounds 7-8
    # ATTRIBUTED dedup_near/dedup_incremental's super-linear reads to
    # that artifact; this knob exists to MEASURE the attribution
    # (round 9): a realistic vocabulary should hold banded-candidate
    # density size-independent.
    n_vocab = int(os.environ.get("SCALE_VOCAB", "0") or 0)
    if n_vocab > len(VOCAB):
        ranks = np.arange(1, n_vocab + 1)
        wts = 1.0 / ranks**0.9  # zipf-ish natural-language shape
        vocab_arr = np.array([f"w{i}" for i in range(n_vocab)])
        words = rng.choice(vocab_arr, int(lens.sum()), p=wts / wts.sum())
    else:
        words = rng.choice(VOCAB, int(lens.sum()))
    texts = []
    pos = 0
    for ln in lens:
        texts.append(" ".join(words[pos:pos + ln]))
        pos += ln
    # plant exact duplicates (~2%) so dedup operators find real work
    dup_idx = rng.choice(n_doc, max(1, n_doc // 50), replace=False)
    for i in dup_idx:
        texts[i] = texts[int(dup_idx[0])]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, n_src, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }))

    # embeddings grow x4 per decade in the driver fixture (500 -> 2000)
    n_emb = n_of(2_000, exp=0.6)
    dim = 64
    emb = rng.normal(0, 1, (n_emb, dim)).astype(np.float32)
    # plant a MEGA-CLUSTER (25% of vectors near one direction) — the
    # skew case the SemDeDup cluster-size cap exists for; without it the
    # probe would only ever see balanced random clusters
    n_mega = n_emb // 4
    center = rng.normal(0, 1, dim).astype(np.float32)
    emb[:n_mega] = center + rng.normal(0, 0.05, (n_mega, dim)).astype(
        np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    }))
    print(out_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
