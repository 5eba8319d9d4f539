#!/usr/bin/env python
"""Isolated per-entry timing + plan capture for optimization work.

Usage:
    python tools/qtime.py NAME [NAME ...] [--reps N] [--explain DIR/SUFFIX]

Times each named bench entry (a registry query, or one of bench.py's
overrides) exactly as bench.py does: the same session and warm-up
(``bench.bench_session``), and ``--reps`` runs (default bench.py's 2)
back to back through ``bench.run_entry``. Names run in the order given,
so the IVF probes need ``ann_ivf_build`` (and ``ann_ivf_index_save``)
named before them. Optionally writes ``<explain_dir>/<name>_<suffix>.txt``
with ``explain('formatted')`` output. Prints one JSON line per entry:
``min``, ``samples`` and each run's ``jobs``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=bench.REPS)
    ap.add_argument(
        "--explain",
        default=None,
        help="DIR/SUFFIX: write DIR/<name>_<SUFFIX>.txt explain(formatted)",
    )
    args = ap.parse_args()
    unknown = sorted(set(args.names) - set(bench.ENTRIES))
    if unknown:
        sys.exit(f"unknown entries: {unknown}")

    spark, sf_dir = bench.bench_session("sli-qtime")
    for name in args.names:
        rec = bench.time_entry(spark, name, sf_dir, args.reps)
        if args.explain:
            d, suffix = args.explain.rsplit("/", 1)
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"{name}_{suffix}.txt")
            with open(path, "w") as fh, contextlib.redirect_stdout(fh):
                bench.ENTRIES[name](spark, sf_dir).explain(mode="formatted")
        print(json.dumps({"query": name, **rec}), flush=True)


if __name__ == "__main__":
    main()
