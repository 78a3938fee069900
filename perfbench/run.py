"""Benchmark entry point.

    python3 perfbench/run.py --workload store_crud --seed 1 --seconds 20 --trace 0

Run from the repository root.  Each call starts one fresh worker process
(``worker.py``) on ``local[<cores>]``, waits for it and every process it
started, and prints one JSON line as the last line of standard output:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

A traced run also reports ``trace.overhead_frac``: how much slower its
median query ran than in the latest untraced run of the same workload in
this checkout (an untraced run is made first when there is none).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("store_crud", "corpus_pipeline")
DEADLINE_S = 170.0  # a run must end within 180 s
STATE_DIR = os.path.join(ROOT, ".perfbench")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of host RAM, capped at 4 GB: well below the host, and
    plenty for these input sizes."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, ram // 4 // 2**30))}g"


def _stop_group(pgid: int) -> None:
    """Stop every process left in the worker's process group (the JVM and
    its Python workers) and wait until none remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(100):
            time.sleep(0.1)
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return


def run_worker(args, traced: bool, deadline: float) -> dict:
    work = os.path.join(STATE_DIR, f"run-{os.getpid()}-{int(traced)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM the run starts (the launcher and the driver) keeps its
        # temporary files in the checkout; no perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(int(traced)),
        "--size", args.size, "--workdir", work, "--out", out,
    ]
    log_path = os.path.join(STATE_DIR, f"worker-{os.getpid()}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                 stderr=subprocess.STDOUT, start_new_session=True)
            try:
                code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _stop_group(p.pid)
                p.wait()
        if code != 0 or not os.path.exists(out):
            with open(log_path) as log:
                tail = log.read()[-4000:]
            raise RuntimeError(f"worker exited with {code}:\n{tail}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(log_path):
            os.remove(log_path)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    if not os.path.isfile(os.path.join(ROOT, "merkonvectordb_spark", "__init__.py")):
        print(f"no merkonvectordb_spark package under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(STATE_DIR, exist_ok=True)
    cache = os.path.join(STATE_DIR, f"untraced-{args.workload}-{args.size}.json")

    res = run_worker(args, bool(args.trace), deadline)
    if args.trace:
        if os.path.exists(cache):
            with open(cache) as f:
                base = json.load(f)
        else:
            base = run_worker(args, False, deadline)["e2e"]
        res["layer"]["trace.overhead_frac"] = (
            res["e2e"]["query_p50_ms"] / base["query_p50_ms"] - 1.0
        )
        values, units = res["layer"], dict(metrics.per_layer())
    else:
        with open(cache, "w") as f:
            json.dump(res["e2e"], f)
        values = res["e2e"]
        units = {n: u for n, u, _, _ in metrics.END_TO_END}
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
