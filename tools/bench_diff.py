#!/usr/bin/env python
"""Round-over-round per-query bench regression diff (VERDICT r7 #3).

The driver's BENCH_r{N}.json keeps only the 10 slowest queries, so a
regression in any of the other ~174 is invisible there.  bench.py
persists the FULL per-query map as BENCH_LOCAL_r{N}.json; this tool
diffs the two newest committed maps (or an explicit pair), flags
queries whose time grew more than ``--threshold`` (default 1.5x) above
a noise floor (default 0.3 s — sub-300 ms timings are scheduler
jitter on this host, see BASELINE.md), and optionally SOLO-CONFIRMS
each flag by re-running just that query through ``bench.py <name>``
in a fresh process: in-sweep numbers carry neighbor effects (GC, cache
eviction from 180 preceding queries), so a flag that disappears solo
is sweep noise, not a plan regression.

Usage:
    python tools/bench_diff.py                      # newest two maps
    python tools/bench_diff.py --old 7 --new 8
    python tools/bench_diff.py --confirm            # solo re-run flags
    python tools/bench_diff.py --confirm --markdown # table for BASELINE.md

Exit code 0 always — diagnostic, not a gate.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _committed_names() -> list[str]:
    """BENCH_LOCAL names as COMMITTED at HEAD (VERDICT r8 #4): the
    working-tree file is overwritten by every mid-round full sweep, and
    round 8 showed mid-round sweeps produce flags the driver's quiet
    end-of-round sweep contradicts — the committed maps are the only
    comparable pair."""
    proc = subprocess.run(
        ["git", "-C", HERE, "ls-tree", "-r", "--name-only", "HEAD"],
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        return []
    return [
        ln
        for ln in proc.stdout.splitlines()
        if re.fullmatch(r"BENCH_LOCAL_r\d+\.json", ln)
    ]


def _rounds(worktree: bool) -> list[int]:
    if worktree:
        names = [
            os.path.basename(p)
            for p in glob.glob(os.path.join(HERE, "BENCH_LOCAL_r*.json"))
        ]
    else:
        names = _committed_names()
    out = []
    for name in names:
        m = re.search(r"BENCH_LOCAL_r(\d+)\.json$", name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _load(rnd: int, worktree: bool) -> dict[str, float]:
    name = f"BENCH_LOCAL_r{rnd:02d}.json"
    if worktree:
        with open(os.path.join(HERE, name)) as fh:
            data = json.load(fh)
    else:
        proc = subprocess.run(
            ["git", "-C", HERE, "show", f"HEAD:{name}"],
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            raise FileNotFoundError(f"HEAD:{name} — {proc.stderr.strip()}")
        data = json.loads(proc.stdout)
    return dict(data["queries"])


# Stable, code-frozen queries used to measure the confirm process's own
# systematic offset: a fresh JVM is less JIT-warm than one 180 queries
# deep into a sweep, so sub-second queries read 1.5-4x high solo (round-8
# control: tpch_q1 at 1.14 s solo vs 0.23-0.26 s in-sweep — an offset
# LARGER than the flag threshold).  Each query's solo reading is divided
# by the median control inflation before the verdict.
CONTROLS = ("tpch_q1", "tpch_q5", "linq_summary")


def solo_times(names: list[str], runs: int = 3) -> dict[str, float]:
    """Re-run the flagged queries PLUS the controls through bench.py in
    one fresh process (amortizing JVM/JIT warm-up across the batch the
    same way for every query) and return the reported best-of-N times.
    A filtered run never touches the BENCH_LOCAL artifact (bench.py
    guards this)."""
    env = dict(os.environ, BENCH_RUNS=str(runs))
    batch = list(dict.fromkeys(list(names) + list(CONTROLS)))
    got = _bench_subprocess(batch, env)
    if got is not None:
        return got
    # one broken query must not void every confirmation (ADVICE r8):
    # fall back to per-query solo runs, skipping the ones that crash
    print(
        "  solo batch failed; falling back to per-query runs",
        file=sys.stderr,
    )
    out: dict[str, float] = {}
    for name in batch:
        single = _bench_subprocess([name], env)
        if single is None:
            print(f"  solo run failed for {name}", file=sys.stderr)
        else:
            out.update(single)
    return out


def _bench_subprocess(
    batch: list[str], env: dict[str, str]
) -> dict[str, float] | None:
    """One bench.py run over ``batch``; None on any failure.  The JSON
    result line is located by probing each stdout line (a stray WARN on
    stdout must not break parsing), and a non-zero exit is a failure
    even if a JSON line was emitted (ADVICE r8)."""
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "bench.py")] + batch,
            capture_output=True,
            text=True,
            env=env,
            timeout=1800,
        )
    except Exception as e:
        print(f"  bench subprocess error: {e}", file=sys.stderr)
        return None
    if proc.returncode != 0:
        print(
            f"  bench exited {proc.returncode}: "
            f"{proc.stderr.strip().splitlines()[-1:]}",
            file=sys.stderr,
        )
        return None
    for line in proc.stdout.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            data = json.loads(line)
        except ValueError:
            continue
        if isinstance(data, dict) and "queries" in data:
            return dict(data["queries"])
    print("  bench emitted no JSON result line", file=sys.stderr)
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", type=int, default=None)
    ap.add_argument("--new", type=int, default=None)
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument(
        "--floor",
        type=float,
        default=0.3,
        help="ignore queries whose NEW time is below this (seconds)",
    )
    ap.add_argument("--confirm", action="store_true")
    ap.add_argument("--markdown", action="store_true")
    ap.add_argument(
        "--worktree",
        action="store_true",
        help="diff the working-tree maps instead of the committed "
        "(HEAD) ones — mid-round sweeps only; the default committed "
        "pair is the comparable one (VERDICT r8 #4)",
    )
    args = ap.parse_args()

    rounds = _rounds(args.worktree)
    if args.old is None or args.new is None:
        if len(rounds) < 2:
            print("need two BENCH_LOCAL_r*.json maps", file=sys.stderr)
            return 0
        args.old, args.new = rounds[-2], rounds[-1]
    old = _load(args.old, args.worktree)
    new = _load(args.new, args.worktree)
    provenance = "worktree" if args.worktree else "committed (HEAD)"

    common = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    tot_old = sum(old[q] for q in common)
    tot_new = sum(new[q] for q in common)

    rows = []  # (name, old, new, ratio)
    for q in common:
        if new[q] < args.floor and old[q] < args.floor:
            continue
        ratio = new[q] / old[q] if old[q] > 0 else float("inf")
        if ratio >= args.threshold or ratio <= 1 / args.threshold:
            rows.append((q, old[q], new[q], ratio))
    rows.sort(key=lambda r: -r[3])

    print(
        f"r{args.old} -> r{args.new} [{provenance} maps]: "
        f"{len(common)} common queries, "
        f"total {tot_old:.1f}s -> {tot_new:.1f}s "
        f"({tot_new / tot_old:.3f}x)"
        + (f"; +{len(added)} added" if added else "")
        + (f"; -{len(removed)} removed" if removed else ""),
        file=sys.stderr,
    )

    confirmed: dict[str, float] = {}
    inflation = 1.0
    if args.confirm:
        flagged = [q for q, _o, _n, r in rows if r >= args.threshold]
        if flagged:
            confirmed = solo_times(flagged)
            ctl = sorted(
                confirmed[c] / old[c]
                for c in CONTROLS
                if c in confirmed and c in old and old[c] > 0
            )
            if ctl:
                inflation = max(1.0, ctl[len(ctl) // 2])
            print(
                f"  control inflation (fresh process vs r{args.old} sweep): "
                f"{inflation:.2f}x",
                file=sys.stderr,
            )

    hdr = "| query | r{o} | r{n} | ratio | solo r{n} (adj) | verdict |".format(
        o=args.old, n=args.new
    )
    sep = "|---|---|---|---|---|---|"
    lines = [hdr, sep] if args.markdown else []
    for q, o, n, ratio in rows:
        solo = confirmed.get(q)
        adj = solo / inflation if solo is not None else None
        if ratio < args.threshold:
            verdict = "improved"
        elif solo is None:
            verdict = "flagged (not solo-confirmed)" if args.confirm else "flagged"
        elif adj >= o * args.threshold:
            verdict = "REGRESSION (solo-confirmed)"
        else:
            verdict = "sweep noise (solo within threshold)"
        solo_s = f"{solo:.2f}s ({adj:.2f})" if solo is not None else "-"
        if args.markdown:
            lines.append(
                f"| {q} | {o:.2f}s | {n:.2f}s | {ratio:.2f}x | {solo_s} | {verdict} |"
            )
        else:
            print(f"  {q}: {o:.2f}s -> {n:.2f}s ({ratio:.2f}x) {solo_s} {verdict}")
    if args.markdown:
        print("\n".join(lines))
    if not rows:
        print("  no per-query movement beyond threshold", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
