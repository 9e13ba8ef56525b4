"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``). The
line before it carries host provenance. A traced run also writes its spans
to ``.perfbench/trace/<workload>-seed<seed>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {
    "setup_s": "s",
    "ingest_turns_per_s": "turns/s",
    "commit_p50_s": "s",
    "query_p50_s": "s",
    "query_qps": "1/s",
    "index_bytes_per_text_byte": "B/B",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", default="nproc",
                   help="local[N] threads; 'nproc' = the CPUs this process may use")
    p.add_argument("--driver-memory", default="1g")
    p.add_argument("--tiny", action="store_true",
                   help="small inputs and one set-up, for the smoke test")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def warm_up(spark) -> None:
    """Run the JVM's first jobs and start the Python worker pool, so no
    measured step pays process start-up."""
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, 1 << 16, numPartitions=cores).selectExpr("sum(id)").collect()
    spark.range(0, 4096, numPartitions=cores).mapInPandas(
        lambda it: it, "id long"
    ).count()


def measure(spark, w, args, tracer) -> tuple[dict, dict]:
    """Warm up, set up, run the closed loop, check every response.
    Returns the metrics for ``--trace`` and their units."""
    from perfbench.harness import median
    from perfbench.workloads import PER_LAYER_UNITS

    t0 = time.perf_counter()
    warm_up(spark)
    w.warm_up()
    warmup_s = time.perf_counter() - t0
    log(f"warm-up: {warmup_s:.2f} s")
    t0 = time.perf_counter()
    w.prepare()
    log(f"prepare: {time.perf_counter() - t0:.2f} s")
    setup = []
    # the first set-up of a run is slower than the rest (the JVM is still
    # compiling its paths); it is made but not counted
    for _ in range(1 if args.tiny else 1 + w.setup_reps):
        t0 = time.perf_counter()
        w.setup()
        setup.append(time.perf_counter() - t0)
    log(f"set-ups: {' '.join(f'{s:.2f}' for s in setup)} s")
    if not args.tiny:
        setup = setup[1:]
    deadline = time.perf_counter() + args.seconds
    while time.perf_counter() < deadline or not w.complete():
        w.step()
    log("requests: " + " ".join(f"{r['kind']}={r['latency']:.2f}" for r in w.ops))
    if args.trace:
        extras = w.traced_extras()
        w.repeat_for_counts()
    w.gate()
    if not args.trace:
        metrics = w.end_to_end()
        metrics["setup_s"] = median(setup)
        return metrics, E2E_UNITS
    metrics = {k: 0.0 for k in PER_LAYER_UNITS}
    metrics.update(extras)
    metrics.update(w.per_layer())
    metrics.update({
        "session.warmup_s": warmup_s,
        "catalog.write_s": median(w.catalog_write_s),
        "datagen.gen_s": w.gen_s,
        "query.samples": sum(r["kind"] in w.query_kinds for r in w.ops),
        "trace.overhead_s": tracer.request_overhead_s / max(1, tracer.requests),
        "trace.unstable_counts": len(tracer.unstable_counts()),
    })
    return metrics, PER_LAYER_UNITS


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    try:
        import parser_indexer_py_spark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: the program is not in {ROOT}: {e}")
    from perfbench.harness import (
        RssSampler, Tracer, host_probe, nproc, start_session, stop_session,
    )
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    cores = nproc() if args.cores == "nproc" else int(args.cores)
    host = host_probe()
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            try:
                spark = start_session(work, cores, args.driver_memory)
                start_s = time.perf_counter() - t0
                log(f"session start: {start_s:.2f} s")
                tracer = Tracer(spark, bool(args.trace))
                w = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.tiny)
                metrics, units = measure(spark, w, args, tracer)
                if args.trace:
                    metrics["session.start_s"] = start_s
                    tracer.dump(
                        os.path.join(ROOT, ".perfbench", "trace",
                                     f"{args.workload}-seed{args.seed}.json"),
                        {"workload": args.workload, "seed": args.seed,
                         "host": host, "metrics": metrics},
                    )
            finally:
                stop_session(spark)
        log(f"peak memory by process: "
            f"{ {k: v // 2**20 for k, v in rss.peak_by_name.items()} } MiB")
        if not args.trace:
            metrics["peak_rss_mb"] = rss.peak_bytes / 1e6
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = [r for r in w.ops if not r["ok"]]
    for r in failed:
        log(f"failed {r['kind']}: {r.get('error')}")
    return {
        "host": host,
        "result": {
            "correct": not failed,
            "attempted": len(w.ops),
            "failed": len(failed),
            "metrics": {
                k: {"value": float(metrics[k]), "unit": units[k]} for k in units
            },
        },
    }


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # runs every finally, so the JVM is stopped


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    out = run(parse_args(sys.argv[1:] if argv is None else argv))
    print(json.dumps({"host": out["host"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
