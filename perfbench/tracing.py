"""Spans around the calls into each layer, and Spark's event log joined to
them.

``Tracer.install()`` wraps the public entry points the imputer calls
(its operators, MLlib's ``Pipeline``/``PipelineModel`` and writers) and
records one span per call: name, start, end, parent. Each wrapper also sets
the thread-local Spark property ``perfbench.span`` to its span id, so a job
submitted from any thread, the imputer's fit pool included, names the span
that caused it. ``EventLog`` reads the uncompressed event log that Spark
writes when ``spark.eventLog.enabled`` is set and sums jobs, stages, tasks
and task metrics per job; ``op_metrics`` joins the two per op.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import threading
import time

SPAN_PROP = "perfbench.span"

# (module, attribute owner, attribute, span name). The imputer imports its
# operators by name, so they are wrapped where the imputer looks them up.
_TARGETS = [
    ("scikit_learn_imputer_spark.imputer", None, "ffill_bfill",
     "operators.fill.ffill_bfill"),
    ("scikit_learn_imputer_spark.imputer", None, "one_hot",
     "operators.encode.one_hot"),
    ("scikit_learn_imputer_spark.imputer", None, "minmax_scale",
     "operators.scale.minmax_scale"),
    ("scikit_learn_imputer_spark.imputer", None, "split_exact",
     "operators.split.split_exact"),
    ("scikit_learn_imputer_spark.imputer", None, "label_encode",
     "operators.encode.label_encode"),
    ("scikit_learn_imputer_spark.imputer", None, "scatter_update",
     "operators.update.scatter_update"),
    ("scikit_learn_imputer_spark.imputer", "SparkImputer", "fit",
     "imputer.fit"),
    ("scikit_learn_imputer_spark.imputer", "SparkImputer", "transform",
     "imputer.transform"),
    ("scikit_learn_imputer_spark.imputer", "SparkImputer", "create_features",
     "imputer.create_features"),
    ("pyspark.ml.pipeline", "Pipeline", "fit", "mllib.fit"),
    ("pyspark.ml.pipeline", "PipelineModel", "transform", "mllib.transform"),
    ("pyspark.ml.util", "JavaMLWriter", "save", "mllib.save"),
    ("pyspark.ml.pipeline", "PipelineModel", "load", "mllib.load"),
]


class Tracer:
    """Records spans in memory; ``spans`` is the list of finished ones as
    ``(id, name, start, end, parent)`` with times from ``time.time()``."""

    def __init__(self, sc):
        self.sc = sc
        self.spans = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack = None
        self._lock = threading.Lock()
        self._saved = []

    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            if threading.get_ident() == self._main:
                self._main_stack = st
        return st

    def span(self, name):
        return _Span(self, name)

    def _open(self, name):
        st = self._stack()
        if st:
            parent = st[-1][0]
        elif self._main_stack:
            # A pool thread's first span belongs to whatever the main
            # thread has open: the call that started the pool.
            parent = self._main_stack[-1][0]
        else:
            parent = None
        sid = next(self._ids)
        st.append((sid, name, time.time(), parent))
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        return sid

    def _close(self):
        st = self._stack()
        sid, name, start, parent = st.pop()
        end = time.time()
        self.sc.setLocalProperty(SPAN_PROP, str(st[-1][0]) if st else None)
        with self._lock:
            self.spans.append((sid, name, start, end, parent))

    def install(self):
        for module, owner, attr, name in _TARGETS:
            obj = importlib.import_module(module)
            if owner:
                obj = getattr(obj, owner)
            # Inherited methods are wrapped on the named class itself.
            raw = inspect.getattr_static(obj, attr)
            self._saved.append((obj, attr, raw, attr in obj.__dict__))
            if isinstance(raw, classmethod):
                setattr(obj, attr, classmethod(self._wrap(raw.__func__, name)))
            else:
                setattr(obj, attr, self._wrap(raw, name))

    def uninstall(self):
        for obj, attr, raw, own in reversed(self._saved):
            if own:
                setattr(obj, attr, raw)
            else:
                delattr(obj, attr)
        self._saved = []

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close()

        return wrapper


class _Span:
    def __init__(self, tracer, name):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        self.sid = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._close()
        return False


# ---------------------------------------------------------------- event log


class EventLog:
    """Per-job totals from a Spark event log (one JSON record a line).

    ``jobs`` maps job id to a dict with ``submit`` (seconds since the
    epoch), ``span`` (the ``perfbench.span`` property or None),
    ``stages``, ``stages_skipped``, ``tasks``, ``tasks_failed``,
    ``exec_run_s``, ``exec_cpu_s``, ``gc_s``, ``shuffle_write_mb``,
    ``spill_mb`` and ``task_spans`` (task launch/finish pairs).
    """

    def __init__(self, lines):
        self.jobs = {}
        stage_job = {}
        ran = set()
        for line in lines:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sids = ev.get("Stage IDs", [])
                job = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "span": props.get(SPAN_PROP),
                    "stage_ids": set(sids),
                    "stages": 0, "stages_skipped": 0, "tasks": 0,
                    "tasks_failed": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
                    "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                    "task_spans": [],
                }
                self.jobs[ev["Job ID"]] = job
                for s in sids:
                    stage_job.setdefault(s, ev["Job ID"])
            elif kind == "SparkListenerStageCompleted":
                ran.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                job = self.jobs.get(stage_job.get(ev["Stage ID"]))
                if job is None:
                    continue
                info = ev.get("Task Info", {})
                job["tasks"] += 1
                if info.get("Failed") or ev.get("Task End Reason", {}).get(
                    "Reason", "Success"
                ) != "Success":
                    job["tasks_failed"] += 1
                if info.get("Launch Time") and info.get("Finish Time"):
                    job["task_spans"].append(
                        (info["Launch Time"] / 1000.0,
                         info["Finish Time"] / 1000.0)
                    )
                m = ev.get("Task Metrics") or {}
                job["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
                job["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                job["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                job["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
        # A stage runs, if at all, in the first job that lists it; a later
        # job that lists it again skips it and reads its shuffle output.
        for jid, job in self.jobs.items():
            done = {s for s in job["stage_ids"] if s in ran and stage_job[s] == jid}
            job["stages"] = len(done)
            job["stages_skipped"] = len(job["stage_ids"]) - len(done)

    @classmethod
    def from_dir(cls, path):
        """Read every event log under ``path``. A rolling log is a
        directory of ``events_<n>_<app>`` files, read in order of ``n``."""
        lines = []
        for root, _, files in sorted(os.walk(path)):
            logs = [f for f in files if not f.startswith(("appstatus", "."))]
            logs.sort(key=lambda f: (int(f.split("_")[1])
                                     if f.startswith("events_") else 0, f))
            for name in logs:
                with open(os.path.join(root, name)) as f:
                    lines.extend(f)
        return cls(lines)


_SUMS = ("stages", "stages_skipped", "tasks", "tasks_failed", "exec_run_s",
         "exec_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


def _union(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def spark_totals(jobs, start, end, cores):
    """``spark.*`` metrics of the jobs submitted in ``[start, end]``."""
    out = {"spark.jobs": len(jobs)}
    for k in _SUMS:
        out[f"spark.{k}"] = sum(j[k] for j in jobs)
    wall = end - start
    out["spark.util"] = out["spark.exec_run_s"] / (wall * cores) if wall else 0.0
    busy = _union([s for j in jobs for s in j["task_spans"]], start, end)
    out["spark.idle_s"] = wall - busy
    return out


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    _, _, start, end, _ = span
    return (end - start) - _union([(c[2], c[3]) for c in children], start, end)


def op_metrics(spans, jobs, op_span, cores):
    """Per-layer metrics of one op.

    ``spans`` are the op's spans (its root ``op_span`` included), ``jobs``
    the event log's jobs. Span times sum over threads, so a layer called
    from the fit pool can show more seconds than the op's wall time.
    """
    _, _, start, end, _ = op_span
    by_id = {s[0]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s[4], []).append(s)
    op_jobs = [j for j in jobs.values() if start <= j["submit"] <= end]
    out = spark_totals(op_jobs, start, end, cores)

    # A job counts for its own span and every span above it.
    names_of = {}
    for j in op_jobs:
        sid = int(j["span"]) if j["span"] else None
        seen = set()
        while sid in by_id:
            seen.add(by_id[sid][1])
            sid = by_id[sid][4]
        names_of[id(j)] = seen

    for s in spans:
        if s is op_span:
            continue
        name = s[1]
        out[f"{name}.s"] = out.get(f"{name}.s", 0.0) + (s[3] - s[2])
        out[f"{name}.calls"] = out.get(f"{name}.calls", 0) + 1
        out[f"{name}.self_s"] = out.get(f"{name}.self_s", 0.0) + self_time(
            s, kids.get(s[0], [])
        )
    for name in {s[1] for s in spans if s is not op_span}:
        mine = [j for j in op_jobs if name in names_of[id(j)]]
        out[f"{name}.jobs"] = len(mine)
        if name.startswith("q."):
            wall = out[f"{name}.s"]
            run = sum(j["exec_run_s"] for j in mine)
            out[f"{name}.util"] = run / (wall * cores) if wall else 0.0
            out[f"{name}.shuffle_write_mb"] = sum(
                j["shuffle_write_mb"] for j in mine
            )
    return out
