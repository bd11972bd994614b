#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload sf_build --seed 1 --seconds 45 --trace 0

Run from the root of a checkout.  Builds the workload's inputs from
``--seed``, times a cold build and a 1% resume of
``jobs/run_kg_pipeline.py``, checks every output, and prints one JSON
object as the last line of stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same cycle with spans and job groups, adds the compute-only pipeline,
and reports the per-layer metrics instead (spans go to
``.perfbench_work/<workload>/trace.json``).  A run is one fixed cycle;
``--seconds`` is only recorded in the stamp.
Every result is also saved, stamped with cpus, Spark version, seed,
input size and source revision, under ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = ("src_to_kb_spark/__init__.py", "jobs/run_kg_pipeline.py")
WORK = os.path.join(ROOT, ".perfbench_work")
# JVM heap: the inputs are a few MB, and the heap must stay well below
# the memory of a small shared host.
HEAP = "2g"


def source_digest() -> str:
    """sha256 over the program's Python sources, so a result names the
    code it measured even where no git metadata exists."""
    h = hashlib.sha256()
    for top in ("src_to_kb_spark", "jobs"):
        for dp, dns, fns in os.walk(os.path.join(ROOT, top)):
            dns.sort()
            for fn in sorted(f for f in fns if f.endswith(".py")):
                path = os.path.join(dp, fn)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_commit() -> str | None:
    """HEAD's commit read from .git, or None outside a git checkout."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(ROOT, ".git", ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def task_slots(cores: int) -> int:
    """Spark task slots for ``cores`` usable cores: half of them.  Each
    UDF task keeps a JVM thread and a Python worker busy at once, and
    the JVM adds its compiler and GC threads, so one slot per core
    oversubscribes.  On a shared 4-core host, 2 slots ran the cold build
    and the resume faster than 4, with about half the spread between
    runs."""
    return max(1, cores // 2)


def main(argv: list[str] | None = None) -> int:
    from perfbench.workload import END_TO_END, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Pin the run from outside the program: Spark task slots (the job and
    # get_spark would default to 32) and a JVM heap below physical memory
    # (the default is 48g).
    cores = len(os.sched_getaffinity(0))
    cpus = task_slots(cores)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(WORK, args.workload)
    # every file Spark and its Python workers write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    from perfbench import workload
    from perfbench.workload import per_layer_names

    workload.prepare_workdir(work)
    os.makedirs(os.environ["TMPDIR"])
    wl = WORKLOADS[args.workload]
    out = workload.run(wl, args.seed, bool(args.trace), work, cpus)

    import pyspark

    ops = out["ops"]
    names = per_layer_names() if args.trace else END_TO_END
    values = out["layers"] if args.trace else out["end_to_end"]
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "cores": cores,
        "cpus": cpus,
        "spark_version": pyspark.__version__,
        "input_docs": out["input_docs"],
        "input_bytes": out["input_bytes"],
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "errors": ops.errors, **result}, f, indent=1)
    for err in ops.errors:
        print(f"FAILED: {err}", file=sys.stderr)
    for n, u in names:
        print(f"{n:40s} {values[n]:>16.6g} {u}")
    print("stamp " + json.dumps(stamp))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources not found under {ROOT}: {missing}",
              file=sys.stderr)
        sys.exit(2)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "jobs")]
    sys.exit(main())
