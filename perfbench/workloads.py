"""The benchmark's workloads: set-up, timed passes and output checks.

Each workload runs closed-loop in one driver at ``local[nproc]``: a
pass starts only after the previous one ends.  Set-up is
``session.get_spark`` plus one untimed warm pass; the timed passes
follow in the same session.  Every call into a sparkclean module runs
inside a span named after that module, in the order
``sparkclean.cli.main`` makes the calls.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

import corpus
from spans import self_time

BUCKETS = 16  # checkpoint buckets (the CLI's --buckets)
TABLE_SEED = 42  # the query tables' seed, fixed as the repository's sf0.1 test data is
ROUTES = ("parquet", "iceberg")


class Run:
    """State of one benchmark run: work dir, tracer, session and counts."""

    def __init__(self, root: str, work: str, seed: int, seconds: float, tracer, cores: int,
                 sizes: dict):
        self.root, self.work, self.seed, self.seconds = root, work, seed, seconds
        self.tracer, self.cores, self.sizes = tracer, cores, sizes
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup_s = 0.0
        self.passes: list[dict] = []

    # ------------------------------------------------------------ session
    def session(self) -> None:
        """``session.get_spark`` at ``local[nproc]`` with bench.py's shuffle
        partition count, Spark's scratch and temp files under the work dir."""
        from sparkclean.session import get_spark

        extra = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                                   shuffle_partitions=max(2 * self.cores, 8), extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark

    def timed_passes(self, one_pass, min_passes: int) -> None:
        """Run ``one_pass(i)`` at least ``min_passes`` times, then while
        one more pass of the median length still ends within ``seconds``."""
        t0 = time.perf_counter()
        walls: list[float] = []
        while len(walls) < min_passes or (
                time.perf_counter() - t0 + statistics.median(walls) <= self.seconds):
            t = time.perf_counter()
            self.passes.append(one_pass(len(walls)))
            walls.append(time.perf_counter() - t)


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ----------------------------------------------------------------- images

def _digest(out_dir: str) -> tuple[str, int]:
    """Order-free digest of (image_id, keep, drop_reason, quality_score)."""
    files = sorted(glob.glob(os.path.join(out_dir, "_bucket=*", "*.parquet")))
    cols = ["image_id", "keep", "drop_reason", "quality_score"]
    df = pq.ParquetDataset(files).read(columns=cols).to_pandas()
    df = df.sort_values("image_id").reset_index(drop=True)
    h = hashlib.sha256()
    for c in cols:
        h.update(df[c].astype(str).str.cat(sep="\n").encode())
    return h.hexdigest(), int(df["keep"].sum())


class Images(Run):
    """Both CLI image routes over one seeded corpus, every pass; the warm
    pass runs on a small corpus of the same seed.

    parquet route: ``pipeline.run_image_caption_quality_from_path`` →
    ``checkpoint.run_checkpointed``.  iceberg route (``--format iceberg``):
    ``iceberg.read_table`` → ``pipeline.run_image_caption_quality`` →
    ``checkpoint.run_checkpointed`` → ``iceberg.publish_checkpoint``.
    The route order alternates from pass to pass."""

    def prepare(self) -> None:
        self.inputs = {}
        for tag, size in (("timed", "images"), ("warm", "images_warm")):
            n = self.sizes[size]
            self.inputs[tag] = (corpus.image_corpus(self.work, self.seed, n, self.cores), n)

    def register(self) -> None:
        """Register each corpus's files as an Iceberg table ``<corpus>_iceberg``
        (input, untimed).  The schema comes from a parquet footer, so no
        Spark job runs here."""
        from pyspark.sql.pandas.types import from_arrow_schema

        from sparkclean import iceberg

        for path, _ in self.inputs.values():
            _rmtree(path + "_iceberg")
            files = sorted(glob.glob(os.path.join(path, "*.parquet")))
            schema = from_arrow_schema(pq.read_schema(files[0]))
            iceberg.commit_files(self.spark, files, path + "_iceberg", schema=schema)

    def route(self, name: str, src: str, out: str) -> dict:
        """One route end to end, untimed work excluded; returns its
        manifest, snapshot and seconds from the pipeline call on."""
        from sparkclean import iceberg
        from sparkclean.checkpoint import run_checkpointed
        from sparkclean.pipeline import (
            run_image_caption_quality,
            run_image_caption_quality_from_path,
        )

        tr = self.tracer
        res = {"route": name, "snapshot": None}
        with tr.span(f"route.{name}"):
            if name == "iceberg":
                with tr.span("iceberg.read_table", route=name):
                    df = iceberg.read_table(self.spark, src + "_iceberg")
            t0 = time.perf_counter()
            with tr.span("pipeline.build", route=name):
                if name == "iceberg":
                    scored = run_image_caption_quality(df)
                else:
                    scored = run_image_caption_quality_from_path(self.spark, src)
            with tr.span("checkpoint.write", route=name):
                res["manifest"] = run_checkpointed(scored, out, n_buckets=BUCKETS)
            if name == "iceberg":
                with tr.span("iceberg.publish", route=name):
                    res["snapshot"] = iceberg.publish_checkpoint(self.spark, out)
            res["images_s"] = time.perf_counter() - t0
        return res

    def route_problems(self, res: dict, out: str, n: int) -> list[str]:
        """Output checks of one route run over ``n`` images (untimed)."""
        name, c = res["route"], res["manifest"]["counters"]
        problems = []
        dropped = sum(c["dropped_by_rule"].values())
        if not (c["rows_scored"] == n and c["rows_kept"] + dropped == n):
            problems.append(f"{name}: manifest counters {c} for {n} images")
        if name == "iceberg":
            snap = res["snapshot"]
            if snap is None or int(snap["summary"]["rows_scored"]) != n:
                problems.append(f"iceberg: snapshot {snap and snap['summary']}")
        res["digest"], kept = _digest(out)
        if kept != c["rows_kept"]:
            problems.append(f"{name}: output keeps {kept}, manifest says {c['rows_kept']}")
        return problems

    def one_pass(self, i: int, tag: str) -> dict:
        src, n = self.inputs["warm" if tag == "warm" else "timed"]
        order = ROUTES if (i + self.seed) % 2 == 0 else ROUTES[::-1]
        outs = {r: os.path.join(self.work, "out", r) for r in order}
        for out in outs.values():
            _rmtree(out)
        done, problems = [], []
        lo = len(self.tracer.spans)
        with self.tracer.span("pass", tag=tag) as ps:
            for r in order:
                try:
                    done.append(self.route(r, src, outs[r]))
                except Exception as e:  # a failing route is counted, the pass goes on
                    problems.append(f"{r}: {type(e).__name__}: {str(e)[:300]}")
                self.spark.catalog.clearCache()
        for res in done:
            problems += self.route_problems(res, outs[res["route"]], n)
        digests = {res["route"]: res["digest"] for res in done}
        if len(set(digests.values())) > 1:
            problems.append(f"routes disagree: {digests}")
        self.attempted += len(order)
        self.failed += min(len(order), len(problems))
        self.problems += problems
        return {"tag": tag, "run_s": ps["end"] - ps["start"], "images": n * len(done),
                "images_s": sum(res["images_s"] for res in done),
                "kept": {res["route"]: res["manifest"]["counters"]["rows_kept"] for res in done},
                "spans": (lo, len(self.tracer.spans))}

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.session()
        t_session = time.perf_counter() - t0
        self.register()
        t0 = time.perf_counter()
        self.one_pass(0, "warm")
        self.setup_s = t_session + time.perf_counter() - t0

    def checks(self) -> None:
        """Every pass checks its own outputs (see one_pass)."""

    def diagnostics(self) -> dict:
        """The corpus through ``decode_scan`` alone, without and with the
        fused caption kernel (noop sink): one untimed run of both legs,
        then one timed run of each in the reverse order."""
        from sparkclean.images.decode import decode_scan

        path = self.inputs["timed"][0]

        def leg(flag: bool) -> float:
            t0 = time.perf_counter()
            decode_scan(self.spark, path, with_caption_features=flag).write.format(
                "noop").mode("overwrite").save()
            return time.perf_counter() - t0

        leg(False)
        leg(True)
        with_captions = leg(True)
        return {"images.decode.decode_scan_s": leg(False),
                "images.decode.decode_scan_captions_s": with_captions}

    def throughput(self, passes: list[dict]) -> tuple[float, float]:
        """(median run_s, median images/s) over the given passes."""
        return (statistics.median([p["run_s"] for p in passes]),
                statistics.median([p["images"] / p["images_s"] for p in passes]))


# ---------------------------------------------------------------- queries

def _load_check_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Queries(Run):
    """The seven ``bench.py`` HEADLINE queries, each written to ``noop``,
    cache cleared between queries, in HEADLINE order on every pass.

    ``--seed`` does not vary this workload: the tables are fixed
    (``TABLE_SEED``), as the repository's sf0.1 test data is, and so is
    the query order, because the pass time depends on it (over five
    seeds each on a 4-core VM, the pass time spread 0.17 IQR/median
    with the order rotated per seed, against 0.10 in a fixed order)."""

    def prepare(self) -> None:
        import __spark_entry__
        import bench

        self.names = list(bench.HEADLINE)
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        t, w = self.sizes["tables"], self.sizes["tables_warm"]
        self.tables = corpus.query_tables(self.work, TABLE_SEED, t["docs"], t["vecs"], t["events"])
        self.warm = corpus.query_tables(self.work, TABLE_SEED, w["docs"], w["vecs"], w["events"])

    def one_pass(self, i: int, tag: str) -> dict:
        """One pass over the queries.  The warm pass runs on the small
        warm-up tables and collects each result for the oracle check
        instead of writing it to ``noop``."""
        tables = self.warm if tag == "warm" else self.tables
        lo = len(self.tracer.spans)
        with self.tracer.span("pass", tag=tag) as ps:
            for name in self.names:
                try:
                    with self.tracer.span(f"query.{name}"):
                        df = self.queries[name](self.spark, tables)
                        if tag == "warm":
                            self.results[name] = df.toPandas()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # a failing query is counted, the pass goes on
                    self.failed += 1
                    self.problems.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                self.attempted += 1
                self.spark.catalog.clearCache()
        return {"tag": tag, "run_s": ps["end"] - ps["start"], "queries": len(self.names),
                "spans": (lo, len(self.tracer.spans))}

    def setup(self) -> None:
        self.results: dict = {}
        t0 = time.perf_counter()
        self.session()
        self.one_pass(0, "warm")
        self.setup_s = time.perf_counter() - t0

    def diagnostics(self) -> dict:
        return {}

    def checks(self) -> None:
        """The warm pass's results against their DuckDB twins over the
        same tables (tools/check_correctness.compare); untimed."""
        import duckdb

        cc = _load_check_module(self.root)
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.warm, t + '.parquet')}')")
            for name, got in self.results.items():
                problems = cc.compare(name, got, con.execute(self.oracles[name]).df())
                self.attempted += 1
                if problems:
                    self.failed += 1
                    self.problems.append(f"{name}: oracle mismatch {problems}")
        finally:
            con.close()

    def throughput(self, passes: list[dict]) -> tuple[float, float]:
        return (statistics.median([p["run_s"] for p in passes]),
                statistics.median([p["queries"] / p["run_s"] for p in passes]))


WORKLOADS = {"images_cli": Images, "queries_sf0.1": Queries}


def layer_metrics(run: Run, traced_passes: list[dict]) -> dict:
    """Per-layer figures from the traced passes' spans: the median over
    passes of each layer's summed self time and Spark counters."""
    per_pass = [_pass_layers(run, run.tracer.spans, *p["spans"]) for p in traced_passes]
    keys = set().union(*per_pass)
    return {k: statistics.median([pp.get(k, 0.0) for pp in per_pass]) for k in keys}


def _pass_layers(run: Run, spans: list[dict], lo: int, hi: int) -> dict:
    """Per-layer figures of one traced pass, spans ``lo`` to ``hi``; the
    self time of the pass and route spans is the unaccounted remainder."""
    out: dict[str, float] = {}
    skipped = stages = failures = attempts = 0

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    unaccounted = 0.0
    for i in range(lo, hi):
        s = spans[i]
        wall = s["end"] - s["start"]
        name, route = s["name"], s.get("route")
        if name == "pass" or name.startswith("route."):
            unaccounted += self_time(spans, i)
            if name == "pass":
                add("tracing.run_s", wall)
            continue
        stages += s.get("stages", 0)
        skipped += s.get("stages_skipped", 0)
        failures += s.get("task_failures", 0)
        attempts += s.get("task_attempts", 0)
        busy = s.get("run_ms", 0) / 1000.0 / (wall * run.cores) if wall > 0 else 0.0
        if name.startswith("query."):
            add(f"{name}.s", self_time(spans, i))
            add(f"{name}.jobs", s.get("jobs", 0))
            add(f"{name}.stages", s.get("stages", 0))
            add(f"{name}.shuffle_write_bytes", s.get("shuffle_write_bytes", 0))
        elif name == "pipeline.build":
            p = f"pipeline.{route}"
            add(f"{p}.build_s", self_time(spans, i))
            for k in ("jobs", "stages", "tasks"):
                add(f"{p}.{k}", s.get(k, 0))
            add(f"{p}.busy_ratio", busy)
        elif name == "checkpoint.write":
            p = f"checkpoint.{route}"
            add(f"{p}.write_s", self_time(spans, i))
            for k in ("jobs", "stages", "shuffle_write_bytes", "spill_bytes", "output_bytes"):
                add(f"{p}.{k}", s.get(k, 0))
            add(f"{p}.busy_ratio", busy)
        elif name == "iceberg.read_table":
            add("iceberg.read_table_s", self_time(spans, i))
        elif name == "iceberg.publish":
            add("iceberg.publish_s", self_time(spans, i))
    out["tracing.unaccounted_s"] = unaccounted
    out["spark.stages_skipped_ratio"] = skipped / stages if stages else 0.0
    out["spark.task_retry_ratio"] = failures / attempts if attempts else 0.0
    return out
