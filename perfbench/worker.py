"""One benchmark run in one fresh process: start the Spark session, set the
workload up, run its closed loop for ``--seconds`` (and on, until every
role has the workload's minimum number of samples), check the answers,
and write every metric to ``--out`` as JSON.

``run.py`` starts this process with the session environment (core count,
driver memory, scratch directories) and turns the JSON into the printed
result line.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import metrics  # noqa: E402
from spans import Tracer, span_counters  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# the loop may run this many seconds past --seconds until every role
# has its workload's minimum number of samples
OVERRUN_S = 60.0


def session_conf(workdir: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(workdir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def block_state(spark) -> tuple[int, float]:
    """(persistent RDDs, MB of their blocks) — read through the
    SparkContext, never by unpersisting."""
    sc = spark.sparkContext
    storage = sum(
        i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
    )
    return len(sc._jsc.getPersistentRDDs()), storage / 1e6


def heap_after_gc(spark, settled: int = 3, min_rounds: int = 6,
                  max_rounds: int = 15) -> float:
    """MB of driver-JVM heap in use after full collections (in local mode
    the executor shares that JVM, so persisted blocks are in it).

    Python first drops the JVM objects it no longer references; then each
    round runs a full collection and gives Spark's ContextCleaner time to
    free what the previous one released.  A run's first few collections
    can still read 100 MB or more above the rest, so there are at least
    ``min_rounds`` rounds, and more until the least reading has held,
    within 1 MB, for ``settled`` rounds; that reading is the heap the run
    really holds."""
    gc.collect()
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings: list[float] = []
    held = 0
    while len(readings) < max_rounds and (len(readings) < min_rounds or held < settled):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        mb = (rt.totalMemory() - rt.freeMemory()) / 1e6
        held = held + 1 if readings and mb > min(readings) - 1.0 else 0
        readings.append(mb)
    print("heap after gc (MB):", " ".join(f"{r:.1f}" for r in readings), flush=True)
    return min(readings)


# the spans that score vectors, for vector.pairs_per_cpu_s
SCORING_SPANS = ("search.knn", "search.knn_batch", "index.build", "index.search",
                 "index.append")


def layer_metrics(wl, tracer, counters) -> dict[str, float]:
    """Every per-layer metric; 0 for a layer that does not run."""
    out = {name: 0.0 for name, _ in metrics.per_layer()}
    for span, point in metrics.SPANS:
        d = tracer.durations(span)
        if not d:
            continue
        out[metrics.span_ms_name(span)] = statistics.median(d) * 1000.0
        for c in metrics.counters_for(span, point):
            out[f"{span}.{c}"] = counters[span][c]
    if "search.knn" in counters:
        out["search.scan_tasks"] = counters["search.knn"]["tasks"]
    cpu = sum(
        counters[s]["cpu_s"] * len(tracer.durations(s))
        for s in SCORING_SPANS if s in counters
    )
    scored = sum(wl.pairs.get(s, 0) for s in SCORING_SPANS)
    out["vector.pairs_per_cpu_s"] = scored / cpu if cpu else 0.0
    out.update(wl.layer)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    traced = bool(a.trace)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    t0 = time.perf_counter()
    from merkonvectordb_spark.session import get_spark

    spark = get_spark(f"perfbench-{a.workload}", extra_conf=session_conf(a.workdir, traced))
    session_s = time.perf_counter() - t0

    tracer = Tracer(spark, traced)
    wl = WORKLOADS[a.workload](
        spark, tracer, a.seed, os.path.join(a.workdir, "state"), a.size
    )
    setup_s = wl.setup()
    t = time.perf_counter()
    wl.warm()
    print(f"session {session_s:.2f} s, setup {setup_s:.2f} s, "
          f"warm pass {time.perf_counter() - t:.2f} s", flush=True)

    before = wl.attempted
    t_loop = time.perf_counter()
    def more() -> bool:
        now = time.perf_counter() - t_loop
        short = any(len(wl.samples[r]) < n for r, n in wl.min_samples.items())
        return now < a.seconds or (short and now < a.seconds + OVERRUN_S)

    while more():
        for commit in wl.step():
            if commit:
                wl.commit()
            if not more():
                break
    loop_s = time.perf_counter() - t_loop
    loop_ops = wl.attempted - before
    print(f"loop {loop_s:.2f} s, {loop_ops} calls, samples "
          f"{ {k: len(v) for k, v in wl.samples.items()} }", flush=True)
    # blocks first: the full collections below let the ContextCleaner
    # drop persisted blocks whose DataFrames are gone
    n_rdds, storage_mb = block_state(spark)
    # after the loop, not before it: full collections shrink the heap the
    # JVM has grown (870 MB to 250 MB on store_crud), and a loop started on
    # the shrunken heap spends its first seconds in collections.  The loop
    # runs the same mix of calls in every run, so the heap it leaves does
    # not depend on the host's pace.
    heap_mb = heap_after_gc(spark)
    state_ok = wl.finish()
    if traced and hasattr(wl, "trace_extras"):
        wl.trace_extras()
    e2e = {
        "setup_s": session_s + setup_s,
        "query_p50_ms": statistics.median(wl.samples["query"]) * 1000.0,
        "write_p50_ms": statistics.median(wl.samples["write"]) * 1000.0,
        "bulk_p50_ms": statistics.median(wl.samples["bulk"]) * 1000.0,
        "answer_recall": statistics.mean(wl.recall),
        "mem_held_mb": heap_mb,
        "disk_bytes_per_user_byte": wl.disk_ratio(),
    }
    spark.stop()

    layer = {}
    if traced:
        counters, unattributed = span_counters(
            tracer.spans, os.path.join(a.workdir, "eventlog"), cores
        )
        wl.layer.update({
            "session.start_ms": session_s * 1000.0,
            "session.persisted_rdds": n_rdds,
            "session.storage_mb": storage_mb,
            "trace.unattributed_frac": unattributed,
        })
        layer = layer_metrics(wl, tracer, counters)
    result = {
        "correct": bool(state_ok and wl.failed == 0),
        "attempted": wl.attempted,
        "failed": wl.failed,
        "e2e": e2e,
        "layer": layer,
    }
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
