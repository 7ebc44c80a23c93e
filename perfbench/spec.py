"""Every metric the benchmark reports: unit, better direction, layer and
which end-to-end metric it should move on which workload.

``BENCHMARK.json`` carries names, units, directions and bounds only;
this table adds the layer and the expected effect, and ``selfcheck.py``
asserts the two agree and that a run emits every metric with its unit.
A per-layer metric of a layer that a workload never calls reads 0 on
that workload.
"""

from __future__ import annotations

import bench  # the headline query list lives in bench.py

ALL = "images_cli, queries_sf0.1"
IMG = "images_cli"
QRY = "queries_sf0.1"

# name, unit, better, bound, what it is
END_TO_END = [
    ("items_per_s", "1/s", "higher", 0.25,
     "images/s over both image routes (input images over seconds from the pipeline "
     "call until the manifest, and the snapshot for Iceberg, is written); queries/s "
     "on queries_sf0.1"),
    ("run_s", "s", "lower", 0.25, "seconds of one pass, input to complete result"),
    ("setup_s", "s", "lower", 0.25,
     "session.get_spark plus one untimed warm pass"),
    ("peak_python_rss_mb", "MB", "lower", 0.2,
     "peak summed RSS of the Python driver and the Spark Python workers (/proc); the "
     "JVM's peak is in the run record only, as G1 sizes its heap differently run to run"),
    ("ok_ratio", "ratio", "higher", 0.01,
     "operations that neither raised nor failed their output check, over attempted"),
]

# name, unit, better, layer, moves: (end-to-end metric, workloads)
_PER_LAYER = [
    ("session.get_spark_s", "s", "lower", "session", ("setup_s", ALL)),
    ("images.decode.kernel_rows_per_s", "1/s", "higher", "images.decode",
     ("items_per_s", IMG + "; no change on " + QRY)),
    ("text.fast.kernel_rows_per_s", "1/s", "higher", "text.fast",
     ("items_per_s, run_s", IMG + "; " + QRY + " through caption_quality_pipeline")),
    ("images.decode.decode_scan_s", "s", "lower", "images.decode", ("items_per_s", IMG)),
    ("images.decode.decode_scan_captions_s", "s", "lower", "images.decode",
     ("items_per_s", IMG)),
]
for _route in ("parquet", "iceberg"):
    _PER_LAYER += [
        (f"pipeline.{_route}.build_s", "s", "lower", "pipeline", ("items_per_s", IMG)),
        (f"pipeline.{_route}.jobs", "count", "lower", "pipeline", ("items_per_s", IMG)),
        (f"pipeline.{_route}.stages", "count", "lower", "pipeline", ("items_per_s", IMG)),
        (f"pipeline.{_route}.tasks", "count", "lower", "pipeline", ("items_per_s", IMG)),
        (f"pipeline.{_route}.busy_ratio", "ratio", "higher", "pipeline", ("items_per_s", IMG)),
        (f"checkpoint.{_route}.write_s", "s", "lower", "checkpoint", ("items_per_s", IMG)),
        (f"checkpoint.{_route}.jobs", "count", "lower", "checkpoint", ("items_per_s", IMG)),
        (f"checkpoint.{_route}.stages", "count", "lower", "checkpoint", ("items_per_s", IMG)),
        (f"checkpoint.{_route}.shuffle_write_bytes", "B", "lower", "checkpoint",
         ("items_per_s", IMG)),
        (f"checkpoint.{_route}.spill_bytes", "B", "lower", "checkpoint", ("items_per_s", IMG)),
        (f"checkpoint.{_route}.output_bytes", "B", "lower", "checkpoint",
         ("items_per_s", IMG)),
        (f"checkpoint.{_route}.busy_ratio", "ratio", "higher", "checkpoint",
         ("items_per_s", IMG)),
    ]
_PER_LAYER += [
    ("iceberg.read_table_s", "s", "lower", "iceberg", ("run_s", IMG + " (iceberg route)")),
    ("iceberg.publish_s", "s", "lower", "iceberg",
     ("items_per_s, run_s", IMG + " (iceberg route)")),
]
for _q in bench.HEADLINE:
    _PER_LAYER += [
        (f"query.{_q}.s", "s", "lower", "query", ("run_s", QRY)),
        (f"query.{_q}.jobs", "count", "lower", "query", ("run_s", QRY)),
        (f"query.{_q}.stages", "count", "lower", "query", ("run_s", QRY)),
        (f"query.{_q}.shuffle_write_bytes", "B", "lower", "query", ("run_s", QRY)),
    ]
_PER_LAYER += [
    ("spark.stages_skipped_ratio", "ratio", "higher", "spark", ("run_s", ALL)),
    ("spark.task_retry_ratio", "ratio", "lower", "spark", ("run_s", ALL)),
    ("tracing.run_s", "s", "lower", "tracing", ("run_s (traced twin)", ALL)),
    ("tracing.unaccounted_s", "s", "lower", "tracing", ("run_s", ALL)),
    ("tracing.overhead_s", "s", "lower", "tracing", ("none: traced minus untraced run_s", ALL)),
]
PER_LAYER = _PER_LAYER

UNITS = {m[0]: m[1] for m in END_TO_END} | {m[0]: m[1] for m in PER_LAYER}


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` this table implies (selfcheck compares)."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": k, "why": v} for k, v in WHY.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd, _ in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _, _ in PER_LAYER],
    }


RUN_SECONDS = 10
WHY = {
    "images_cli": "both CLI image routes (parquet default, --format iceberg) on one seeded "
                  "4000-image corpus: per-job floor, decode/caption kernels, bucketed "
                  "checkpoint write",
    "queries_sf0.1": "the seven bench.py headline queries on fixed sf0.1-shaped tables (seed 42: "
                     "--seed does not vary this workload): no decode or checkpoint, job count "
                     "and knn/minhash kernels dominate",
}
