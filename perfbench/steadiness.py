"""Steadiness record: run the benchmark many times and summarise each metric.

    python3 perfbench/steadiness.py --first-seed 101 --traced 2 --out perfbench/STEADINESS.json

For each workload in BENCHMARK.json it makes ten untraced runs of
``run_seconds``, seeds ``--first-seed`` on, and reports every measured
value's median, quartiles and spread (inter-quartile distance as a share
of the median) with the bound in BENCHMARK.json. With ``--traced N`` it
also makes N traced runs on the first seed, records where each op's time
goes (``per_op``: build, action and outside-job time, build share, jobs),
and lists the per-op counts (jobs, stages, tasks, shuffle and input bytes)
that differ between passes of a run or between runs, so no claim rests on
a count that does not repeat.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

from stats import quartiles, spread

RUNS = 10
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    t = time.time()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    wall = time.time() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-2])["detail"], json.loads(lines[-1]), wall


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--first-seed", type=int, required=True)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    record = {"runs_per_workload": RUNS, "seconds": seconds, "workloads": {}}
    for w in (w["name"] for w in bench["workloads"]):
        values: dict[str, list[float]] = {}
        runs, attempted, failed = [], 0, 0
        for i in range(RUNS):
            detail, result, wall = _run(w, args.first_seed + i, seconds, 0)
            runs.append({"seed": args.first_seed + i, "wall_s": round(wall, 2),
                         "pass_wall_s": detail["pass_wall_s"]})
            attempted += result["attempted"]
            failed += result["failed"]
            for k, v in detail["measured"].items():
                values.setdefault(k, []).append(v)
            print(w, i, {k: round(values[k][-1], 4) for k in bounds}, f"wall {wall:.1f}s",
                  file=sys.stderr, flush=True)
        summary = {}
        for k, vs in values.items():
            q1, q2, q3 = quartiles(vs)
            summary[k] = {"median": q2, "q1": q1, "q3": q3,
                          "spread": spread(vs) if q2 else None,
                          "bound": bounds.get(k), "values": vs}
        entry = {"attempted": attempted, "failed": failed, "metrics": summary, "runs": runs}
        if args.traced:
            unstable, counts, traced = set(), [], []
            for _ in range(args.traced):
                detail, _, _ = _run(w, args.first_seed, seconds, 1)
                unstable.update(detail["unstable_counts"])
                traced.append({"per_op": detail["per_op"], "measured": detail["measured"]})
                counts.append({k: detail["measured"][k] for k in
                               ("exec.jobs", "exec.stages", "exec.tasks",
                                "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
                                "exec.input_bytes", "sources.bytes_written")})
            across = sorted(k for k in counts[0] if len({c[k] for c in counts}) > 1)
            entry["counts"] = {"unstable_within_run": sorted(unstable),
                               "unstable_across_runs": across, "per_run": counts}
            entry["traced_runs"] = traced
        record["workloads"][w] = entry
    Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
