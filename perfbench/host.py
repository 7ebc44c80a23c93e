"""Host fingerprint and the kernel probes.

The probes run the decode kernel (``images.decode._stats_for_batch``)
and the caption kernel (``text.fast.caption_features_batch`` then
``label_and_probs_batch``) over a fixed sample, with no Spark.  The
decode probe also runs in ``nproc`` concurrent processes: its
efficiency against ``nproc`` times the single-process rate is the VM
canary, since this kind of host has epochs where the same kernel runs
1.5x slower with no code change.
"""

from __future__ import annotations

import multiprocessing
import os
import platform
import statistics
import time

import pyarrow.parquet as pq


def fingerprint() -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "cpu": platform.processor() or platform.machine(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def _median_rate(fn, rows: int, reps: int) -> float:
    """Median rows/s of ``reps`` timed calls after one untimed call."""
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return rows / statistics.median(times)


def _decode(pdf) -> None:
    from sparkclean.images.decode import _stats_for_batch

    _stats_for_batch(pdf)


def _captions(texts) -> None:
    from sparkclean.text.fast import caption_features_batch, label_and_probs_batch

    label_and_probs_batch(caption_features_batch(texts))


_WORKER_SAMPLE = None


def _worker_init(sample_path: str) -> None:
    global _WORKER_SAMPLE
    _WORKER_SAMPLE = pq.read_table(sample_path).to_pandas()


def _worker_decode(_i: int) -> float:
    t0 = time.perf_counter()
    _decode(_WORKER_SAMPLE)
    return time.perf_counter() - t0


def kernel_probes(sample_path: str, reps: int, procs: int | None = None) -> dict:
    """rows/s of each kernel in one process over the sample at
    ``sample_path``, and with ``procs``, of the decode kernel in that
    many processes at once."""
    pdf = pq.read_table(sample_path).to_pandas()
    texts = pdf["caption"].tolist()
    decode = _median_rate(lambda: _decode(pdf), len(pdf), reps)
    captions = _median_rate(lambda: _captions(texts), len(pdf), reps)
    out = {"decode_rows_per_s": decode, "captions_rows_per_s": captions}
    if not procs:
        return out
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs, initializer=_worker_init, initargs=(sample_path,)) as pool:
        pool.map(_worker_decode, range(procs))  # import + warm
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            pool.map(_worker_decode, range(procs))
            walls.append(time.perf_counter() - t0)
        pool.close()
        pool.join()
    multi = procs * len(pdf) / statistics.median(walls)
    out.update(decode_multi_rows_per_s=multi, decode_multi_procs=procs,
               decode_multi_efficiency=multi / (decode * procs))
    return out
