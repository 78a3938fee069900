"""Every metric the benchmark prints, with its unit.  ``BENCHMARK.json``
at the repository root lists the same names (a test pins that)."""

from __future__ import annotations

# (name, unit, better, bound) — bound: the share of the parent's median by
# which the metric may worsen before a change counts as a regression
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("query_p50_ms", "ms", "lower", 0.25),
    ("write_p50_ms", "ms", "lower", 0.25),
    ("bulk_p50_ms", "ms", "lower", 0.25),
    ("answer_recall", "ratio", "higher", 0.05),
    ("mem_held_mb", "MB", "lower", 0.25),
    ("disk_bytes_per_user_byte", "ratio", "lower", 0.1),
)

# timed public calls: (span name, is a single-row point call)
SPANS = (
    ("vector_store.upsert", False),
    ("vector_store.delete", True),
    ("vector_store.get", True),
    ("search.knn", False),
    ("search.knn_batch", False),
    ("index.build", False),
    ("index.search", False),
    ("index.append", False),
    ("dedup.near_dedup", False),
    ("fingerprint_store.build", False),
    ("fingerprint_store.probe", False),
    ("fingerprint_store.append", False),
)

COUNTER_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "shuffle_mb": "MB", "input_mb": "MB", "spill_mb": "MB",
    "cpu_s": "s", "core_busy_frac": "ratio", "driver_ms": "ms",
}
# single-row point calls: shuffle, input and core-busy say nothing there
POINT_COUNTERS = ("jobs", "stages", "tasks", "cpu_s", "driver_ms")
# spill is reported only for the bulk calls, the only ones that can spill
BULK_SPANS = ("index.build", "dedup.near_dedup", "fingerprint_store.build")


def counters_for(span: str, point: bool) -> tuple[str, ...]:
    if point:
        return POINT_COUNTERS
    if span in BULK_SPANS:
        return tuple(COUNTER_UNITS)
    return tuple(c for c in COUNTER_UNITS if c != "spill_mb")


# layer metrics that are not a span's wall time or counters
NAMED_LAYER = (
    ("session.start_ms", "ms"),
    ("session.persisted_rdds", "count"),
    ("session.storage_mb", "MB"),
    ("vector_store.files_per_write", "count"),
    ("vector_store.write_amp", "ratio"),
    ("vector_store.live_files", "count"),
    ("search.knn_rows_per_s", "rows/s"),
    ("search.scan_tasks", "count"),
    ("vector.pairs_per_cpu_s", "pairs/s"),
    ("index.lists_read_frac", "ratio"),
    ("index.candidates_per_query", "count"),
    ("index.rerank_yield", "ratio"),
    ("versioned.files_per_append", "count"),
    ("versioned.live_files", "count"),
    ("versioned.bytes_per_row", "B"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.verified_edges", "count"),
    ("dedup.verify_yield", "ratio"),
    ("fingerprint_store.probe_candidates", "count"),
    ("fingerprint_store.probe_yield", "ratio"),
    ("trace.unattributed_frac", "ratio"),
    ("trace.overhead_frac", "ratio"),
)


def span_ms_name(span: str) -> str:
    return f"{span}_ms"


def per_layer() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in print order."""
    out = list(NAMED_LAYER[:3])
    for span, point in SPANS:
        out.append((span_ms_name(span), "ms"))
        out += [(f"{span}.{c}", COUNTER_UNITS[c]) for c in counters_for(span, point)]
    return out + list(NAMED_LAYER[3:])
