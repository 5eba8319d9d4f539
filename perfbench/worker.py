"""One measured run of one workload, in a process of its own.

Started by ``run.py`` with the environment set up (``PYTHONPATH``,
``SPARK_GRAFT_CPUS``, scratch directories inside the checkout). Phases:

1. set-up: imports and session start, then ``LOAD_REPS`` loads of the
   input (generated from the seed, or read, and materialised); ``setup_s``
   is the first span plus the median of the loads;
2. warm-up: one untimed op; its output is kept and checked against the
   truth or the oracle;
3. timed window: the ops that fit in ``--seconds``, at least ``MIN_OPS``
   (see below), each checked against its sink-pass observation
   and the kept op's digest;
4. with ``--trace 1``, the event log joined to the recorded spans.

The last line of standard output is the JSON result.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procstat  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

LOAD_REPS = 3
# The timed window holds the ops that fit in ``--seconds``, and at least
# MIN_OPS: another op starts only if one more of the last op's length still
# ends inside the window. Both workloads' ops take longer than half the
# window even on a fast host, so every run times one op: a run that timed
# one op and a run that timed two would report different parts of the
# warm-up curve.
MIN_OPS = 1

END_TO_END = {
    "op_s_p50": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

_SPARK = ("jobs", "stages", "stages_skipped", "tasks", "tasks_failed",
          "exec_run_s", "exec_cpu_s", "util", "idle_s", "gc_s",
          "shuffle_write_mb", "spill_mb")

PER_LAYER = {
    "mllib.fit.s": "s", "mllib.fit.jobs": "count",
    "operators.split.split_exact.s": "s",
    "operators.split.split_exact.jobs": "count",
    "operators.encode.label_encode.s": "s",
    "imputer.fit.s": "s", "imputer.fit.self_s": "s",
    "imputer.create_features.s": "s", "imputer.create_features.calls": "count",
    "imputer.create_features.self_s": "s",
    "operators.fill.ffill_bfill.s": "s", "operators.fill.ffill_bfill.jobs": "count",
    "operators.encode.one_hot.s": "s", "operators.encode.one_hot.jobs": "count",
    "operators.scale.minmax_scale.s": "s",
    "operators.scale.minmax_scale.jobs": "count",
    "imputer.transform.s": "s", "imputer.transform.self_s": "s",
    "mllib.save.s": "s", "mllib.load.s": "s", "mllib.transform.s": "s",
    "operators.update.scatter_update.s": "s",
    "sink.s": "s", "sink.jobs": "count",
    **{f"spark.{k}": ("count" if k in ("jobs", "stages", "stages_skipped",
                                       "tasks", "tasks_failed")
                      else "fraction" if k == "util"
                      else "MB" if k.endswith("_mb") else "s")
       for k in _SPARK},
    **{f"q.{e}.{m}": u for e in workloads.SLICE
       for m, u in (("s", "s"), ("jobs", "count"), ("util", "fraction"),
                    ("shuffle_write_mb", "MB"))},
    "setup.session_s": "s", "setup.load_s": "s", "warmup_s": "s",
    "trace.op_s": "s",
    "quality.impute_acc": "fraction", "quality.impute_nrmse": "ratio",
}


def _spark(args, work):
    from scikit_learn_imputer_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + logs,
        })
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Op:
    """One op's record: wall and CPU seconds, its observation, its error."""

    def __init__(self, wl, spark, i, tracer, keep=False):
        self.error = None
        self.problem = None
        self.obs = None
        c0 = procstat.tree_cpu_s()
        self.start = time.time()
        self.span = None
        try:
            if tracer is None:
                self.obs = wl.op(spark, i, keep=keep)
            else:
                with tracer.span("op") as root:
                    self.span = root.sid
                    self.obs = wl.op(spark, i, tracer, keep=keep)
        except Exception:  # an op that raises is a failed op; keep going
            self.error = traceback.format_exc(limit=3)
        self.end = time.time()
        self.wall = self.end - self.start
        self.cpu = procstat.tree_cpu_s() - c0


def _checked(op, expect_rows, first_digest):
    """Why the op's own sink-pass observation is wrong, or None."""
    if op.error:
        return op.error.strip().splitlines()[-1]
    o = op.obs
    if expect_rows is not None and o["rows"] != expect_rows:
        return f"rows {o['rows']} != {expect_rows}"
    if o["nulls"]:
        return f"{o['nulls']} NULL cells left in target columns"
    if first_digest is not None and o["digest"] != first_digest:
        return "output digest differs from the run's first op"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work-dir", required=True)
    args = ap.parse_args()
    work = args.work_dir
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    log = sys.stderr

    spark = _spark(args, work)
    session_s = time.time() - T0
    wl = workloads.make(args.workload, args.seed, work)
    loads = []
    for _ in range(LOAD_REPS):
        t = time.time()
        wl.load(spark)
        loads.append(time.time() - t)
    load_s = statistics.median(loads)
    print(f"setup: session {session_s:.2f} s, load {loads}", file=log)

    tracer = None
    if args.trace:
        tracer = tracing.Tracer(spark.sparkContext)
        tracer.install()

    # One untimed warm-up op, which keeps its output for the check; every
    # timed op must reproduce its digest.
    expect_rows = getattr(wl, "rows", None)
    first = Op(wl, spark, 0, tracer, keep=True)
    problem = _checked(first, expect_rows, None)
    ok, quality, problems = (False, {}, [problem]) if problem else wl.check()
    if problems:
        print("output check: " + "; ".join(problems), file=log)
    digest = first.obs["digest"] if first.obs else None
    print(f"warm-up op: {first.wall:.2f} s", file=log)

    ops = []
    rss = procstat.PeakRss()
    with rss:
        t0 = time.time()
        while (len(ops) < MIN_OPS
               or time.time() - t0 + ops[-1].wall <= args.seconds):
            op = Op(wl, spark, len(ops) + 1, tracer)
            op.problem = _checked(op, expect_rows, digest)
            ops.append(op)
            print(f"op {len(ops)}: {op.wall:.3f} s, cpu {op.cpu:.2f} s"
                  + (f", FAILED: {op.problem}" if op.problem else ""),
                  file=log)
    spark.stop()

    # A failed output check fails every op it vouches for.
    failed = len(ops) if not ok else sum(1 for op in ops if op.problem)
    good = [op for op in ops if not op.problem] or ops
    result = {
        "op_s_p50": statistics.median(op.wall for op in good),
        "cpu_s_per_op": statistics.median(op.cpu for op in good),
        "peak_rss_mb": rss.peak_mb,
        "setup_s": session_s + load_s,
    }
    units = END_TO_END
    if args.trace:
        result = _layers(tracer, ops, work, cores, session_s, load_s,
                         first.wall, quality)
        units = PER_LAYER

    report = {
        "workload": args.workload, "seed": args.seed, "ops": len(ops),
        "error_rate": failed / max(1, len(ops)),
        **quality,
    }
    print("report: " + json.dumps(report), file=log)
    print(json.dumps({
        "correct": bool(ok and failed == 0),
        "attempted": max(1, len(ops)),
        "failed": failed if ops else 1,
        "metrics": {k: {"value": result[k], "unit": units[k]} for k in units},
    }))


def _layers(tracer, ops, work, cores, session_s, load_s, warmup_s, quality):
    """Median over the timed ops of each per-layer metric."""
    log = tracing.EventLog.from_dir(os.path.join(work, "eventlog"))
    spans = tracer.spans
    kids = {}
    by_id = {s[0]: s for s in spans}
    for s in spans:
        kids.setdefault(s[4], []).append(s)
    per_op = [{}]
    for op in ops:
        root = by_id.get(op.span)
        if root is None:
            continue
        mine, todo = [], [root]
        while todo:
            s = todo.pop()
            mine.append(s)
            todo.extend(kids.get(s[0], ()))
        per_op.append(tracing.op_metrics(mine, log.jobs, root, cores))
    per_op = per_op[1:] or per_op
    out = {}
    for name in PER_LAYER:
        out[name] = statistics.median(m.get(name, 0) for m in per_op)
    out.update({
        "setup.session_s": session_s, "setup.load_s": load_s,
        "warmup_s": warmup_s,
        "trace.op_s": statistics.median(op.wall for op in ops),
        "quality.impute_acc": quality.get("quality.impute_acc", 0.0),
        "quality.impute_nrmse": quality.get("quality.impute_nrmse", 0.0),
    })
    self_times = {k: v for k, v in out.items() if k.endswith(".self_s")}
    print("self time per span (median per op): " + json.dumps(self_times),
          file=sys.stderr)
    return out


if __name__ == "__main__":
    main()
