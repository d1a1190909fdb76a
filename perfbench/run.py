"""Benchmark of the Kinesis -> embed -> OpenSearch ingest path and the
RAG query path. Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads: ingest, rag_query (perfbench/README.md says what each
measures). ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics, as the last stdout line:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The line before it holds the run's context (machine, sizes, check
details). Exits 1 when any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "rag_query")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores",
        type=int,
        default=len(os.sched_getaffinity(0)),
        help="Spark local[N] (default: every core; 1 gives the single-core baseline)",
    )
    return ap.parse_args(argv)


def _cpu_ticks() -> list[int]:
    """The machine's total and stolen CPU ticks (/proc/stat)."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return [sum(ticks), ticks[7] if len(ticks) > 7 else 0]


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    # fail fast, before starting anything, when the program is absent
    import real_time_genai_embeddings_for_rag_with_apache_flink_spark  # noqa: F401

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    for sub in ("tmp", "trace"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(
        TZ="UTC",
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    time.tzset()
    t_main = time.time()
    ticks0 = _cpu_ticks()
    from perfbench import check, workloads

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": args.cores,
        "nproc": os.cpu_count(),
        "loadavg_start": list(os.getloadavg()),
    }
    try:
        if args.workload == "rag_query":
            out = workloads.run_rag(args.seed, args.seconds, args.cores, bool(args.trace), work)
        else:
            out = workloads.run_ingest(args.seed, args.seconds, args.cores, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    context["loadavg_end"] = list(os.getloadavg())
    ticks1 = _cpu_ticks()
    # CPU time the host gave to other guests while this run wanted it
    context["steal_frac"] = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    context["wall_s"] = time.time() - t_main
    context.update(out.notes)

    if args.trace:
        metrics = {
            m["name"]: {"value": out.layers.get(m["name"], 0), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        values = {
            "throughput_per_s": out.throughput_per_s,
            "latency_p50_ms": check.median(out.latency_ms),
            "setup_s": out.setup_s,
            "peak_rss_mb": out.peak_rss_mb,
        }
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    correct = out.failed == 0 and out.attempted > 0
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, out.attempted),
                "failed": out.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
