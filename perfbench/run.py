"""Benchmark of the imputer and a slice of the query registry.

One run::

    python3 perfbench/run.py --workload impute_tall --seed 1 --seconds 10 --trace 0

runs the workload in a fresh worker process (``worker.py``) on
``local[<cores>]`` and prints, as its last line, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, from spans around the layer calls and Spark's event log.

Steadiness mode::

    python3 perfbench/run.py --steady --runs 10 --seconds 10 [--workload W] \\
        [--traced-runs 3] [--out FILE] [--compare EARLIER_FILE]

runs each workload of ``BENCHMARK.json`` (or just ``--workload``)
``--runs`` times with seeds 1..runs, each in a fresh process, plus
``--traced-runs`` traced runs (seeds 1..n) and a second traced run of
seed 1, and prints each end-to-end metric's median and quartile spread,
the tracing overhead, whether the traced job, stage and task counts
repeat exactly for a seed and which of them vary with it, and with ``--compare``
each median's change against an earlier ``--out`` file.

Everything a run writes goes under ``.perfbench_work/`` in the checkout,
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "scikit_learn_imputer_spark", "__init__.py")
RUN_TIMEOUT_S = 170


def _stop_group(proc):
    """Terminate every process of the worker's group and wait for them."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5.0
        while time.time() < deadline:
            proc.poll()  # reap the worker: a zombie still counts in its group
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def run_once(workload, seed, seconds, trace, quiet=False):
    """Run one measured worker; returns ``(exit code, result dict or None)``."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        # Spark's Python workers import the engine by name.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_GRAFT_CPUS": str(cores),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--work-dir", work]
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL if quiet else None, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {workload} run exceeded {RUN_TIMEOUT_S} s",
              file=sys.stderr)
        return 3, None
    finally:
        # Also on SIGTERM (raised as SystemExit) or Ctrl-C; a second SIGTERM
        # must not cut the clean-up short.
        old = signal.signal(signal.SIGTERM, signal.SIG_IGN)
        _stop_group(proc)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left if another run shares it
            os.rmdir(os.path.dirname(work))
        signal.signal(signal.SIGTERM, old)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        return proc.returncode or 4, None
    return 0, json.loads(lines[-1])


def _quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    return tuple(statistics.quantiles(values, n=4))


def _count_keys(metrics):
    """The traced run's count metrics: jobs, stages and tasks."""
    return {k: v["value"] for k, v in sorted(metrics.items())
            if k.endswith((".jobs", ".calls")) or k in (
                "spark.stages", "spark.stages_skipped", "spark.tasks")}


def steady(args):
    """Repeat every workload and summarise each metric's spread."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = ([args.workload] if args.workload
             else [w["name"] for w in bench["workloads"]])
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    earlier = None
    if args.compare:
        with open(args.compare) as f:
            earlier = json.load(f)["workloads"]
    summary = {"seconds": args.seconds, "runs": args.runs,
               "cores": len(os.sched_getaffinity(0)), "workloads": {}}
    for name in names:
        runs, walls = [], []
        for seed in range(1, args.runs + 1):
            t = time.time()
            code, res = run_once(name, seed, args.seconds, 0, quiet=True)
            if code:
                sys.exit(f"perfbench: {name} seed {seed} exited {code}")
            walls.append(time.time() - t)
            runs.append(res)
            print(f"{name} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                file=sys.stderr)
        # Traced runs of seeds 1..n, then seed 1 once more: counts must
        # repeat exactly for the same seed. Across seeds the input differs,
        # and with it, for example, the number of L-BFGS iterations.
        traced = []
        for seed in [*range(1, args.traced_runs + 1), 1]:
            code, res = run_once(name, seed, args.seconds, 1, quiet=True)
            if code:
                sys.exit(f"perfbench: traced {name} seed {seed} exited {code}")
            traced.append((seed, res))
        rows = {}
        for metric in runs[0]["metrics"]:
            vals = [r["metrics"][metric]["value"] for r in runs]
            q1, med, q3 = _quartiles(vals)
            rows[metric] = {
                "unit": runs[0]["metrics"][metric]["unit"],
                "better": better.get(metric),
                "bound": bounds.get(metric),
                "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else 0.0,
                "values": vals,
            }
            if earlier and metric in earlier.get(name, {}).get("metrics", {}):
                before = earlier[name]["metrics"][metric]["median"]
                rows[metric]["earlier_median"] = before
                rows[metric]["change"] = (med - before) / before
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        untraced = statistics.median(r["metrics"]["op_s_p50"]["value"]
                                     for r in runs)
        traced_op = statistics.median(r["metrics"]["trace.op_s"]["value"]
                                      for _, r in traced)
        counts = [{"seed": seed, "counts": _count_keys(r["metrics"])}
                  for seed, r in traced]
        ones = [c["counts"] for c in counts if c["seed"] == 1]
        repeat = all(c == ones[0] for c in ones)
        across = sorted(k for k in ones[0]
                        if len({c["counts"].get(k) for c in counts}) > 1)
        summary["workloads"][name] = {
            "correct": (all(r["correct"] for r in runs)
                        and all(r["correct"] for _, r in traced)),
            "attempted": attempted, "failed": failed,
            "error_rate": failed / attempted,
            "run_wall_s": walls,
            "metrics": rows,
            "trace_overhead_s": traced_op - untraced,
            "traced_counts": counts,
            "traced_counts_repeat_for_a_seed": repeat,
            "traced_counts_that_vary_with_the_seed": across,
            "traced": {k: v["value"]
                       for k, v in traced[0][1]["metrics"].items()},
        }
        print(f"\n{name}: {attempted} ops, error_rate {failed / attempted:.3g}, "
              f"run wall median {statistics.median(walls):.1f} s",
              file=sys.stderr)
        for metric, r in rows.items():
            change = (f"  change vs earlier {r['change']:+.2%}"
                      if "change" in r else "")
            print(f"  {metric:14s} median {r['median']:.4g} {r['unit']:3s} "
                  f"({r['better']} is better)  q1 {r['q1']:.4g}  "
                  f"q3 {r['q3']:.4g}  spread {r['spread']:.2%} "
                  f"of bound {r['bound']}{change}", file=sys.stderr)
        print(f"  tracing overhead {traced_op - untraced:+.3f} s per op; "
              f"traced counts for seed 1 "
              f"{'repeat exactly' if repeat else 'DIFFER'}; counts that vary "
              f"with the seed: {', '.join(across) or 'none'}", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")
    print(json.dumps({k: {m: r["spread"] for m, r in w["metrics"].items()}
                      for k, w in summary["workloads"].items()}))


def _terminated(signum, frame):
    sys.exit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminated)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", action="store_true")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced-runs", type=int, default=3)
    ap.add_argument("--compare")
    ap.add_argument("--out")
    args = ap.parse_args()
    if not os.path.exists(PACKAGE):
        sys.exit("perfbench: the engine package scikit_learn_imputer_spark "
                 "is not in this checkout")
    if args.steady:
        steady(args)
        return
    if args.workload is None or args.seed is None:
        ap.error("--workload and --seed are required")
    code, res = run_once(args.workload, args.seed, args.seconds, args.trace)
    if code:
        sys.exit(code)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
