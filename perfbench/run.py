"""End-to-end benchmark of the redmap_spark engine.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 15 --trace 0

Run from the repository root. One run is one fresh Python/JVM process:

1. set-up: import the package, then three rounds that each launch a
   fresh JVM with ``session.get_spark`` and generate the workload's inputs
   from the seed into a fresh directory. ``setup_s`` is the time from the
   start of this script to the end of the imports plus the median round:
   process start to the first timed op, with its repeatable part repeated;
2. the timed region: whole passes over the workload's ops, always in the
   same order, until ``--seconds`` have passed and at least one warm pass
   (four in a traced run) is done. One closed-loop client: the next op
   starts when the previous one returns. A fixed pure-Python loop runs between passes to
   record the host's speed;
3. the output check of every op, then shutdown of the JVM.

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` records spans around every call into the package, Spark's
job/stage counters per span and JVM counters per pass, and prints the
per-layer metrics. The last stdout line is the result object; the line
before it holds details: every value the run measured, pass times and
failed ops. Exit code 0 when every op ran and passed its check, 1 when
one did not, 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

from probes import Jvm, Tracer, host_calib_s, op_outside_jobs_s, peak_rss_mb, tree_cpu_s
from stats import tail
from workloads import WORKLOADS

START = time.time()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_ROUNDS = 3
# The gated metrics need only the cold pass; one warm pass follows it. A
# traced run needs one whole untraced/traced/traced/untraced block of warm
# passes, so a JVM still speeding up does not bias the tracing overhead.
MIN_WARM_PASSES = 1
MIN_WARM_PASSES_TRACED = 4
HARD_STOP_S = 110.0  # no new pass starts after this, so a run ends well inside 180 s


def _configure_env(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside the run dir."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the spark-submit launcher's too
    # (no hsperfdata file in /tmp; the JVM's perf counters stay on, so the
    # compilation MXBean still reports JIT time)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join([
        f"spark.sql.warehouse.dir={run_dir / 'warehouse'}",
        "spark.ui.showConsoleProgress=false",
    ])


def _stop(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    def __init__(self, name: str, seed: int, seconds: float, trace: bool, run_dir: Path,
                 metric_names: list[str]):
        self.name, self.seed, self.seconds, self.trace = name, seed, seconds, trace
        self.metric_names = metric_names
        self.wl = WORKLOADS[name]()
        self.run_dir = run_dir
        self.spark = None

    def setup(self) -> tuple[float, list[float], list[float], bool]:
        """Import the package, then set up SETUP_ROUNDS times, each time in a
        fresh JVM. Returns the import time (from process start), each
        round's time, each round's ``get_spark`` time, and whether every
        round generated byte-identical inputs."""
        from redmap_spark.session import get_spark

        imports_s = time.time() - START
        rounds, starts, digests = [], [], []
        for k in range(SETUP_ROUNDS):
            if self.spark is not None:
                _stop(self.spark)
            t = time.time()
            self.spark = get_spark()
            self.spark.sparkContext.setLogLevel("ERROR")
            starts.append(time.time() - t)
            in_dir = self.run_dir / f"inputs-{k}"
            self.wl.setup(self.spark, str(in_dir), self.seed)
            rounds.append(time.time() - t)
            digests.append(_dir_digest(in_dir))
        return imports_s, rounds, starts, len(set(digests)) == 1

    def run(self) -> tuple[dict, dict]:
        imports_s, setup_rounds, session_starts, inputs_same = self.setup()
        spark, wl = self.spark, self.wl
        jvm = Jvm(spark)
        me = os.getpid()
        passes: list[dict] = []
        results: list[tuple[str, object]] = []
        errors: list[str] = []
        min_warm = MIN_WARM_PASSES_TRACED if self.trace else MIN_WARM_PASSES
        t_window = time.time()
        while True:
            traced = self.trace and _traced(len(passes))
            tracer = Tracer(spark, traced)
            cpu0, jvm0 = tree_cpu_s(me), jvm.snapshot()
            ops = []
            t_pass = time.time()
            for name in wl.ops:
                op_id = len(results) + len(errors)
                t0 = time.time()
                try:
                    out = wl.run_op(spark, tracer, op_id, name, str(self.run_dir / f"out-{op_id}"))
                    results.append((name, out))
                except Exception:  # noqa: BLE001 — a failed op is counted and the run goes on
                    errors.append(name)
                    traceback.print_exc(file=sys.stderr)
                ops.append({"id": op_id, "name": name, "start": t0, "end": time.time()})
            wall = time.time() - t_pass
            cpu1, jvm1 = tree_cpu_s(me), jvm.snapshot()
            passes.append({
                "wall": wall, "core_s": cpu1 - cpu0, "traced": traced, "ops": ops,
                "spans": tracer.spans,
                "jvm": {k: jvm1[k] - jvm0[k] for k in jvm0},
                "calib": host_calib_s(),
            })
            elapsed = time.time() - t_window
            if elapsed >= HARD_STOP_S or (elapsed >= self.seconds and len(passes) > min_warm):
                break
        rss = peak_rss_mb(jvm.pid)
        t_check = time.time()
        oks, facts = wl.check(results)
        check_s = time.time() - t_check
        failed_names = errors + [name for (name, _), ok in zip(results, oks) if not ok]

        warm_p = passes[1:]
        warm_ops = [o["end"] - o["start"] for p in warm_p for o in p["ops"]]
        tail_v, tail_pct, tail_n = tail(warm_ops)
        measured = {
            "setup_s": (imports_s + statistics.median(setup_rounds), "s"),
            "cold_pass_s": (passes[0]["wall"], "s"),
            "warm_pass_s": (statistics.median(p["wall"] for p in warm_p), "s"),
            "op_s_p50": (statistics.median(warm_ops), "s"),
            "op_s_tail": (tail_v, "s"),
            "op_s_tail_pct": (tail_pct, "%"),
            "op_s_tail_n": (tail_n, "count"),
            "core_s_per_pass": (statistics.median(p["core_s"] for p in warm_p), "s"),
            "host.calib_s": (statistics.median(p["calib"] for p in passes), "s"),
        }
        detail = {
            "workload": self.name, "seed": self.seed, "passes": len(passes),
            "pass_wall_s": [round(p["wall"], 4) for p in passes],
            "pass_core_s": [round(p["core_s"], 3) for p in passes],
            "imports_s": round(imports_s, 4),
            "setup_rounds_s": [round(t, 4) for t in setup_rounds],
            "check_s": round(check_s, 3), "failed_ops": failed_names,
            "inputs_identical_across_setups": inputs_same,
        }
        if self.trace:
            layer, detail["unstable_counts"], detail["per_op"] = _per_layer(
                passes, facts, wl.docs_in, rss)
            measured.update(layer)
            measured["session.start_s"] = (statistics.median(session_starts), "s")
            _write_trace(self.run_dir.parent / f"trace-{self.name}-s{self.seed}.json", passes)
        detail["measured"] = {k: v for k, (v, _) in measured.items()}
        result = {
            "correct": not failed_names and inputs_same,
            "attempted": len(results) + len(errors),
            "failed": len(failed_names),
            "metrics": {k: {"value": measured[k][0], "unit": measured[k][1]}
                        for k in self.metric_names},
        }
        return result, detail


def _traced(pass_index: int) -> bool:
    """The cold pass is traced; warm passes go in blocks of
    untraced, traced, traced, untraced."""
    return pass_index == 0 or (pass_index - 1) % 4 in (1, 2)


def _dir_digest(path: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(path.rglob("*")):
        if f.is_file():
            h.update(f.relative_to(path).as_posix().encode())
            h.update(f.read_bytes())
    return h.hexdigest()


COUNTERS = ("jobs", "stages", "tasks", "shuffle_write", "shuffle_read", "input")


def _per_layer(passes, facts, docs_in, rss):
    """Per-layer metrics: medians over the traced warm passes of per-pass
    sums, plus counts that must repeat exactly across traced passes."""
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    traced = [p for p in passes[1:] if p["traced"]]
    blocks = passes[1:1 + 4 * ((len(passes) - 1) // 4)]  # whole blocks only
    per_pass = []
    for p in traced:
        spans = p["spans"]
        jobs = [j for s in spans for j in s.jobs]
        build = [s for s in spans if s.kind == "build"]
        action = [s for s in spans if s.kind == "action"]
        outside = sum(
            op_outside_jobs_s(o["start"], o["end"], [s for s in spans if s.op == o["id"]])
            for o in p["ops"]
        )
        op_wall = sum(o["end"] - o["start"] for o in p["ops"])
        run_s = sum(j["run_s"] for j in jobs)
        per_pass.append({
            "build.s": sum(s.end - s.start for s in build),
            "build.jobs": sum(len(s.jobs) for s in build),
            "build.share": sum(s.end - s.start for s in build) / op_wall,
            "exec.action_s": sum(s.end - s.start for s in action),
            "exec.jobs": len(jobs),
            "exec.stages": sum(j["stages"] for j in jobs),
            "exec.tasks": sum(j["tasks"] for j in jobs),
            "exec.executor_run_s": run_s,
            "exec.core_util": run_s / (p["wall"] * cores),
            "exec.shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
            "exec.shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
            "exec.input_bytes": sum(j["input"] for j in jobs),
            "exec.spill_bytes": sum(j["spill"] for j in jobs),
            "driver.outside_jobs_s": outside,
            "driver.s_per_job": outside / max(len(jobs), 1),
            "jvm.jit_compile_s": p["jvm"]["jit_compile_s"],
            "jvm.gc_s": p["jvm"]["gc_s"],
            "jvm.cpu_s": p["jvm"]["cpu_s"],
        })
    units = {"build.jobs": "count", "build.share": "ratio", "exec.jobs": "count",
             "exec.stages": "count", "exec.tasks": "count", "exec.core_util": "ratio",
             "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
             "exec.input_bytes": "bytes", "exec.spill_bytes": "bytes"}
    layer = {k: (statistics.median(pp[k] for pp in per_pass), units.get(k, "s"))
             for k in per_pass[0]}

    unstable = _unstable_counts([p for p in passes if p["traced"]])
    warm_s = statistics.median(p["wall"] for p in passes[1:])
    docs_per_s = docs_in / warm_s
    layer.update({
        "jvm.peak_rss_mb": (rss, "MB"),
        "pipelines.docs_kept_ratio": (facts.get("pipelines.docs_kept_ratio", 0.0), "ratio"),
        "pipelines.docs_per_s": (docs_per_s, "1/s"),
        "operators.pack_fill": (facts.get("operators.pack_fill", 0.0), "ratio"),
        "sources.bytes_written": (facts.get("sources.bytes_written", 0), "bytes"),
        "sources.files_written": (facts.get("sources.files_written", 0), "count"),
        "sources.out_bytes_per_in_byte": (facts.get("sources.out_bytes_per_in_byte", 0.0), "ratio"),
        "trace.overhead_s": (statistics.mean(p["wall"] for p in blocks if p["traced"])
                             - statistics.mean(p["wall"] for p in blocks if not p["traced"]),
                             "s"),
        "counts.unstable": (len(unstable), "count"),
    })
    return layer, unstable, _per_op(traced)


def _per_op(traced) -> dict[str, dict[str, float]]:
    """Where each op's time goes, as medians over the traced warm passes:
    op wall, time in build and in action calls, the build share of the
    wall, time outside any Spark job, and the op's Spark jobs."""
    rows: dict[str, list[dict]] = {}
    for p in traced:
        for o in p["ops"]:
            spans = [s for s in p["spans"] if s.op == o["id"]]
            wall = o["end"] - o["start"]
            build = sum(s.end - s.start for s in spans if s.kind == "build")
            rows.setdefault(o["name"], []).append({
                "wall_s": wall,
                "build_s": build,
                "build_share": build / wall,
                "action_s": sum(s.end - s.start for s in spans if s.kind == "action"),
                "outside_jobs_s": op_outside_jobs_s(o["start"], o["end"], spans),
                "jobs": sum(len(s.jobs) for s in spans),
            })
    return {name: {k: round(statistics.median(r[k] for r in rs), 4) for k in rs[0]}
            for name, rs in rows.items()}


def _unstable_counts(passes) -> list[str]:
    """``op/counter`` pairs whose value differs between traced passes."""
    seen: dict[tuple[str, str], set] = {}
    for p in passes:
        for o in p["ops"]:
            jobs = [j for s in p["spans"] if s.op == o["id"] for j in s.jobs]
            for c in COUNTERS:
                v = len(jobs) if c == "jobs" else sum(j[c] for j in jobs)
                seen.setdefault((o["name"], c), set()).add(v)
    return sorted(f"{n}/{c}" for (n, c), vs in seen.items() if len(vs) > 1)


def _write_trace(path: Path, passes) -> None:
    spans = [
        {"pass": i, "op": s.op, "name": s.name, "kind": s.kind, "start": s.start,
         "end": s.end, "jobs": s.jobs}
        for i, p in enumerate(passes) for s in p["spans"]
    ]
    path.write_text(json.dumps({"spans": spans}))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "redmap_spark" / "__init__.py").is_file():
        print(f"perfbench: no redmap_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_dir = HERE / ".work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _configure_env(run_dir)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir, names)
    try:
        result, detail = run.run()
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
