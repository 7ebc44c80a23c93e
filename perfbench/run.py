"""sparkclean benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload images_cli --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics from untraced passes.
``--trace 1`` interleaves untraced and traced passes and reports the
per-layer metrics (plus ``tracing.overhead_s``, the traced minus the
untraced median pass time).  The stdout line before the result carries
the run record: host fingerprint, kernel probes (single-process always;
the ``nproc``-process VM canary with ``--trace 1``), per-pass figures,
the JVM's peak RSS and any failed checks.  All inputs, Spark scratch
and spans are written under ``perfbench/.work`` in the repository.
Every process the run starts has ended before it exits (``procs.py``).
``--size tiny`` shrinks every input for the self-check
(``perfbench/selfcheck.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
REQUIRED = ("sparkclean/__init__.py", "__spark_entry__.py", "bench.py",
            "tools/check_correctness.py")

SIZES = {
    "full": {"images": 4000, "images_warm": 250, "probe": 3000, "canary": 500,
             "tables": {"docs": 5000, "vecs": 2000, "events": 100_000},
             "tables_warm": {"docs": 500, "vecs": 500, "events": 1000}},
    "tiny": {"images": 1000, "images_warm": 100, "probe": 300, "canary": 100,
             "tables": {"docs": 500, "vecs": 500, "events": 1000},
             "tables_warm": {"docs": 200, "vecs": 200, "events": 500}},
}


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``, let Spark's
    Python workers import the repository, and drop sparkclean's tuning
    variables so each run uses the same settings."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts first writes to /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    for var in [v for v in os.environ if v.startswith("SPARKCLEAN_")]:
        del os.environ[var]
    sys.dont_write_bytecode = True
    sys.path[:0] = [ROOT, HERE]


def _stop(run) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if run.spark is not None:
        run.spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    args = p.parse_args(argv)

    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work")
    _prepare_env(work)

    import procs

    procs.become_subreaper()
    try:
        return _measure(args, work)
    finally:
        leftover = procs.stop_all()
        if leftover:
            print(f"perfbench: stopped leftover processes {leftover}", file=sys.stderr)


def _measure(args: argparse.Namespace, work: str) -> int:
    import corpus
    import host
    import spec
    from spans import RssSampler, Tracer
    from workloads import WORKLOADS, layer_metrics

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sizes = SIZES[args.size]
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(traced=False)
    run = WORKLOADS[args.workload](ROOT, work, args.seed, args.seconds, tracer, cores, sizes)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host.fingerprint()}
    try:
        run.prepare()
        with RssSampler() as rss:
            run.setup()
            if args.trace:
                def alternate(i):
                    # untraced, traced, untraced, ...: a steady drift over
                    # the run cancels out of the traced-untraced gap
                    tracer.traced = i % 2 == 1
                    return run.one_pass(i, "traced" if tracer.traced else "untraced")
                run.timed_passes(alternate, min_passes=3)
                tracer.traced = False
            else:
                run.timed_passes(lambda i: run.one_pass(i, "timed"), min_passes=1)
        run.checks()
        extra = run.diagnostics() if args.trace else {}
    finally:
        _stop(run)
    if args.trace:
        sample = corpus.probe_sample(work, sizes["images"], sizes["probe"], cores)
        record["probes"] = host.kernel_probes(sample, reps=1, procs=cores)
    else:
        sample = corpus.probe_sample(work, sizes["images"], sizes["canary"], cores)
        record["probes"] = host.kernel_probes(sample, reps=1)
    tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}-{args.trace}.json"))

    timed = [p for p in run.passes if p["tag"] in ("timed", "untraced")]
    run_s, items_per_s = run.throughput(timed)
    if args.trace:
        traced = [p for p in run.passes if p["tag"] == "traced"]
        metrics = {m[0]: 0.0 for m in spec.PER_LAYER}
        metrics.update(layer_metrics(run, traced))
        metrics.update(extra)
        metrics["session.get_spark_s"] = statistics.median(
            s["end"] - s["start"] for s in tracer.spans if s["name"] == "session.get_spark")
        metrics["images.decode.kernel_rows_per_s"] = record["probes"]["decode_rows_per_s"]
        metrics["text.fast.kernel_rows_per_s"] = record["probes"]["captions_rows_per_s"]
        metrics["tracing.overhead_s"] = metrics["tracing.run_s"] - run_s
    else:
        metrics = {
            "items_per_s": items_per_s,
            "run_s": run_s,
            "setup_s": run.setup_s,
            "peak_python_rss_mb": rss.peak_python_kb / 1024.0,
            "ok_ratio": (run.attempted - run.failed) / run.attempted,
        }
    record.update(setup_s=run.setup_s, peak_jvm_rss_mb=rss.peak_jvm_kb / 1024.0,
                  passes=run.passes, problems=run.problems)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": spec.UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
