#!/usr/bin/env python
"""Per-stage empirical profile of one registered query (guide §1.1) —
the Spark-UI substitute for this UI-less sandbox.

Runs the query exactly as bench.py does (warm session, noop sink) with
the JSON event log enabled, then aggregates task metrics per stage:

    python tools/query_profile.py <query> [more queries...]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/query_profile.py dedup_near

Output per stage: wall span, summed executor run/CPU time, shuffle
read/write bytes and fetch-wait, input bytes, spill, task count, and the
stage's callsite name — enough to decide whether time goes to compute,
shuffle, Python, or scheduling (guide §7.1) without the UI.

The event log needs its conf at JVM start, so this tool must run in its
own process (it refuses to reuse an existing session).
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict


def main() -> int:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: query_profile.py <query...>")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, here)

    logdir = f"/tmp/spark-events-{os.getpid()}"
    os.makedirs(logdir, exist_ok=True)

    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        raise SystemExit("refusing to reuse an existing session — run standalone")

    import __spark_entry__ as entrymod
    from merkonvectordb_spark import free_persisted_blocks, get_spark

    spark = get_spark(
        "query_profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    # warm like bench.py so one-time costs don't pollute stage numbers
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    entrymod.entry(spark).write.format("noop").mode("overwrite").save()
    free_persisted_blocks(spark)

    qmap = entrymod.queries()
    marks: list[tuple[str, float, float]] = []
    for name in names:
        if name not in qmap:
            raise SystemExit(f"unknown query: {name}")
        # two runs, profile the SECOND (warm) one — matches bench.py's
        # min-of-2 statistic; the first pays codegen/footer one-time costs
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        free_persisted_blocks(spark)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        spark.sparkContext.setJobDescription(None)
        free_persisted_blocks(spark)
        marks.append((name, t0, t1))
        print(f"## {name}: warm wall {t1 - t0:.3f}s", file=sys.stderr)

    app_id = spark.sparkContext.applicationId
    spark.stop()

    # Spark 4 writes a rolling event-log DIRECTORY (eventlog_v2_<appId>)
    # of events_N_* part files; older versions write a single file.
    path = os.path.join(logdir, app_id)
    v2 = os.path.join(logdir, f"eventlog_v2_{app_id}")
    if os.path.isdir(v2):
        parts = sorted(
            (f for f in os.listdir(v2) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        lines_iter = (
            line
            for part in parts
            for line in open(os.path.join(v2, part))
        )
    else:
        lines_iter = iter(open(path))
    # epoch anchor: map perf_counter marks onto event-log epoch millis
    anchor = time.time() - time.perf_counter()

    stages: dict[tuple[int, int], dict] = {}
    jobs_desc: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    if True:
        for line in lines_iter:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs_desc[jid] = (ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                )
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif e == "SparkListenerTaskEnd":
                si = ev["Stage ID"], ev["Stage Attempt ID"]
                m = ev.get("Task Metrics") or {}
                s = stages.setdefault(
                    si,
                    defaultdict(float) | {"n_tasks": 0, "name": ""},
                )
                s["n_tasks"] += 1
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                s["gc_ms"] += m.get("JVM GC Time", 0)
                s["deser_ms"] += m.get("Executor Deserialize Time", 0)
                srm = m.get("Shuffle Read Metrics") or {}
                s["sh_read_b"] += srm.get("Local Bytes Read", 0) + srm.get(
                    "Remote Bytes Read", 0
                )
                s["fetch_wait_ms"] += srm.get("Fetch Wait Time", 0)
                swm = m.get("Shuffle Write Metrics") or {}
                s["sh_write_b"] += swm.get("Shuffle Bytes Written", 0)
                s["sh_write_ms"] += swm.get("Shuffle Write Time", 0) / 1e6
                im = m.get("Input Metrics") or {}
                s["input_b"] += im.get("Bytes Read", 0)
                s["spill_b"] += m.get("Disk Bytes Spilled", 0)
            elif e == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                si = info["Stage ID"], info["Stage Attempt ID"]
                s = stages.setdefault(
                    si, defaultdict(float) | {"n_tasks": 0, "name": ""}
                )
                s["name"] = info.get("Stage Name", "")
                s["t0"] = info.get("Submission Time", 0)
                s["t1"] = info.get("Completion Time", 0)

    for name, t0, t1 in marks:
        # primary attribution: the job's spark.job.description property
        # (set to profile:<name> around the timed run) — exact, immune to
        # back-to-back queries or cleanup jobs landing inside the window.
        # Jobs submitted from helper threads may miss the thread-local
        # description; those fall back to the old ±500 ms wall window.
        want = f"profile:{name}"
        lo, hi = (anchor + t0) * 1000, (anchor + t1) * 1000
        rows = []
        for (sid, att), s in stages.items():
            desc = jobs_desc.get(stage_job.get(sid, -1), "")
            if desc:
                if desc != want:
                    continue
            elif not s.get("t0") or s["t0"] < lo - 500 or s["t0"] > hi + 500:
                continue
            rows.append((sid, att, s))
        rows.sort(key=lambda r: -(r[2]["t1"] - r[2]["t0"]))
        print(f"\n=== {name}  wall {t1 - t0:.3f}s  stages {len(rows)} ===")
        print(
            f"{'stage':>7} {'span_ms':>8} {'run_ms':>8} {'cpu_ms':>8} "
            f"{'gc':>5} {'fetchw':>6} {'shR_MB':>7} {'shW_MB':>7} "
            f"{'in_MB':>7} {'spill':>6} {'tasks':>5}  name"
        )
        shown = 0
        for sid, att, s in rows:
            span = s["t1"] - s["t0"]
            if shown >= 14 and span < 100:
                continue
            shown += 1
            print(
                f"{sid:>7} {span:>8.0f} {s['run_ms']:>8.0f} "
                f"{s['cpu_ms']:>8.0f} {s['gc_ms']:>5.0f} "
                f"{s['fetch_wait_ms']:>6.0f} "
                f"{s['sh_read_b'] / 1e6:>7.1f} {s['sh_write_b'] / 1e6:>7.1f} "
                f"{s['input_b'] / 1e6:>7.1f} {s['spill_b'] / 1e6:>6.1f} "
                f"{s['n_tasks']:>5}  {s['name'][:70]}"
            )
        tot_span = sum(s["t1"] - s["t0"] for _, _, s in rows)
        print(
            f"  stage-span sum {tot_span / 1000:.3f}s of wall {t1 - t0:.3f}s"
            f" — gap = driver/planning/scheduling time"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
