"""Benchmark of the validation engine (``nadeefiler_spark.engine``).

Run from the repository root:

    python3 perfbench/run.py --workload full_validate --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see ``workloads.py``). A run sets up, makes one
validation pass, then measures the dashboard reads after it for
``--seconds`` seconds. Every metric is printed as
``name = value unit``; the last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. The exit code is
non-zero when an operation failed or the output missed its golden set.

The run writes only below ``.perfbench/`` in the repository root: a work
directory (corpus, engine tables, temporary files), removed at exit, and
a record of the run in ``.perfbench/out/`` (host facts at start and end,
metrics and, for a traced run, every span).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP_MB_MAX = 2048       # driver heap: 2 GiB, or 15 % of RAM when smaller
HEAP_RAM_SHARE = 0.15


def _environment(work: str, mem_total_kb: int) -> None:
    """Keep every temporary file inside ``work`` and size the JVM to the
    host. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    heap_mb = min(HEAP_MB_MAX, int(mem_total_kb / 1024 * HEAP_RAM_SHARE))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_PRETOUCH": "0",
        # java.io.tmpdir for the JVM; no hsperfdata file under /tmp.
        # C1 JIT only: on a 4-vCPU host the default tiered JIT kept its C2
        # compiler threads busy through the whole run (28.5 of 52.5 CPU-s
        # of a pass, 19.5 of 34.8 CPU-s of the reads after it), so times
        # followed how the host scheduled the compiler. C1 only used 3.7
        # CPU-s of a 25.7 CPU-s pass, and pass and read times across runs
        # spread half as much. The code cache keeps the size the tiered
        # JIT reserves: C1 only reserves 48 MB, which fills after about 45 s
        # of this workload and then stops compilation altogether.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
    })
    # the program's own switches stay at their defaults: local master,
    # no SPARK_GRAFT_JVM_EXTRA options, stage concurrency chosen by the engine
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_JVM_EXTRA", "NADEEFILER_CONCURRENT_STAGES"):
        os.environ.pop(var, None)
    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.workloads import N_CLIPS, SETUP_SPANS, WORKLOADS, Run, quantile

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--clips", type=int, default=N_CLIPS,
                    help="corpus size (smaller only in the self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "nadeefiler_spark", "engine.py")):
        print(f"perfbench: no nadeefiler_spark package under {ROOT}", file=sys.stderr)
        return 2

    facts_start = host.host_facts()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", tag)
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    _environment(work, facts_start["mem_total_kb"])
    try:
        run = Run(args.workload, args.seed, bool(args.trace), work, n_clips=args.clips)
        with host.RssSampler() as rss:
            try:
                run.setup()
                run.loop(args.seconds)
                if args.trace:
                    run.probe_layers()
            finally:
                children = host.descendants(os.getpid())
                if getattr(run, "spark", None) is not None:
                    _stop_spark(run.spark)
                host.reap(children)
        facts_end = host.host_facts()
        metrics = run.per_layer() if args.trace else run.end_to_end(rss.peak)
        correct = run.gate_checks > 0 and not run.gate_errors
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "n_clips": run.cfg.n_rows,
            "host_start": facts_start, "host_end": facts_end,
            "attempted": run.attempted, "failed": run.failed,
            "gate_checks": run.gate_checks, "gate_errors": run.gate_errors,
            "pass_s": run.pass_s, "stage_ms": run.stage_ms, "read_ms": run.read_ms,
            "setup_s": {s.name: s.ms / 1000.0
                        for s in run.tracer.spans if s.name in SETUP_SPANS},
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        if args.trace:
            record["spans"] = [vars(s) for s in run.tracer.spans]
        with open(os.path.join(out_dir, tag + ".json"), "w") as f:
            json.dump(record, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"host at start: {facts_start}")
    print(f"host at end:   {facts_end}")
    print(f"workload {args.workload}: {run.cfg.n_rows} clips, {len(run.pass_s)} measured pass")
    for err in run.gate_errors:
        print(f"golden mismatch: {err}")
    failed_frac = run.failed / max(run.attempted, 1)
    print(f"failed_frac = {failed_frac:.6g} ({run.failed} of {run.attempted} operations)")
    reads = run.reads_pooled()
    # fewer than ten of the reads lie above the 90th percentile, too few to
    # bound it as a metric; it is printed for the dashboard's tail
    print(f"read_ms_p90 = {quantile(reads, 0.9):.6g} ms (of {len(reads)} reads; "
          f"read_ms_p50 is of the same {len(reads)})")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": record["metrics"],
    }))
    return 0 if correct and run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
