"""Elevation-enrichment benchmark.

    python3 perfbench/run.py --workload enrich_broadcast --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run, in one Python process on
``local[4]``:

1. generates (or reuses, keyed by seed and size) the 36-tile ``.hgt``
   directory, the image+caption parquet table and the oracle's expected
   rows; none of this is timed;
2. sets up as a user does and times it as ``setup_s``: ``get_spark``,
   ``ElevationEngine(spark, tile_dir=...)``, ``preload()`` and the first,
   cold pass;
3. runs the workload's fixed number of warm-up passes, then passes for
   ``--seconds``; every pass hashes all output columns into an
   order-insensitive checksum;
4. after the timed window, compares every pass's checksum with the
   oracle's, and one more output row by row with the oracle
   (``exact_match_ratio``);
5. prints one JSON line: the end-to-end metrics with ``--trace 0``, the
   per-layer metrics with ``--trace 1``. The traced run of
   ``enrich_broadcast`` also runs killed-and-resumed ``CheckpointedJob``
   passes for the ``checkpoint.*`` layers.

See README.md in this directory for the metrics, the warm-up rule and the
steadiness evidence.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# the program under test lives beside this directory; without it the
# imports below fail and the run exits non-zero before printing a result
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402
import procfs  # noqa: E402
from tracer import PLAN_METRICS, Tracer, plan_metrics  # noqa: E402

# input rows: large enough that per-row work is about half a pass, small
# enough for the run budget and the host's memory (README, "Input size")
ROWS = 400_000
MASTER = "local[4]"
KERNEL_ROWS = 65_536

# name -> (oracle variant, elevation_join keyword arguments, warm-up passes)
WORKLOADS = {
    "enrich_broadcast": ("bilinear_knn", dict(strategy="broadcast", mode="bilinear", knn_fallback=True), 8),
    "enrich_cogroup": ("nearest", dict(strategy="cogroup", mode="nearest", n_salts=16), 2),
}
# CheckpointedJob passes in the traced enrich_broadcast run: killed after
# FAIL_AFTER of N_BUCKETS buckets, then resumed into the same directory
CHECKPOINT = ("nearest_knn", dict(strategy="broadcast", mode="nearest", knn_fallback=True))
N_BUCKETS, WAVE_SIZE, FAIL_AFTER, CHECKPOINT_PASSES = 16, 4, 8, 2
INPUT_COLUMNS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.variant, self.join_kwargs, self.warmup = WORKLOADS[args.workload]
        self.data = os.path.join(WORK, "data", f"s{args.seed}_n{ROWS}")
        self.tile_dir = os.path.join(self.data, "tiles")
        self.points = os.path.join(self.data, "points.parquet")
        self.tracer = Tracer(enabled=bool(args.trace))
        self.attempted = 0
        self.failed = 0

    # -- inputs and oracle (outside every timed window) -----------------------

    def prepare_inputs(self, variants) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        from htg_spark import hgt

        if not os.path.exists(self.points):
            log(f"generating inputs in {self.data}")
            gen.write_inputs(self.data, self.args.seed, ROWS)
        grids = None
        for variant in variants:
            path = self.oracle_path(variant)
            if os.path.exists(path):
                continue
            if grids is None:
                grids = {
                    hgt.filename_to_lat_lon(name): np.fromfile(
                        os.path.join(self.tile_dir, name), dtype=">i2"
                    ).reshape(gen.SAMPLES, gen.SAMPLES)
                    for name in os.listdir(self.tile_dir)
                }
                tbl = pq.read_table(self.points, columns=["image_id", "phash"])
                lat, lon = gen.phash_to_lat_lon(tbl.column("phash").to_numpy())
            mode, knn = oracle.VARIANTS[variant]
            table = oracle.to_arrow(tbl.column("image_id"), oracle.expected(lat, lon, grids, mode, knn), mode)
            pq.write_table(table, path + ".tmp")
            os.replace(path + ".tmp", path)

    def oracle_path(self, variant: str) -> str:
        return os.path.join(self.data, f"oracle_{variant}.parquet")

    def expected_checksum(self, variant: str) -> tuple:
        """Checksum of the input joined with the oracle's columns, by the
        same expression as every pass; cached beside the inputs."""
        path = os.path.join(self.data, f"checksum_{variant}.json")
        if not os.path.exists(path):
            want = self.spark.read.parquet(self.points).join(
                self.spark.read.parquet(self.oracle_path(variant)), "image_id"
            )
            with open(path + ".tmp", "w") as f:
                json.dump(self.chk_key(self.checksum_df(want).collect()[0]), f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            return tuple(json.load(f))

    @staticmethod
    def chk_key(row) -> tuple:
        return int(row[0]), str(row[1]), int(row[2])

    def checksum_df(self, df):
        """Order-insensitive exact checksum over every output column, so no
        column can be pruned from the plan being timed."""
        from pyspark.sql import functions as F

        cols = sorted(INPUT_COLUMNS + oracle.APPENDED)
        h = F.xxhash64(*[F.col(c) for c in cols]).alias("h")
        return df.select(h).agg(
            F.count(F.lit(1)),
            F.sum(F.col("h").cast("decimal(38,0)")),
            F.bit_xor("h"),
        )

    # -- passes ---------------------------------------------------------------

    def setup(self) -> None:
        """Timed as setup_s: session boot, engine, preload, cold pass."""
        from htg_spark.engine import ElevationEngine
        from htg_spark.session import get_spark

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench",
                master=MASTER,
                extra_conf={
                    "spark.local.dir": os.path.join(WORK, "spark-local"),
                    "spark.ui.showConsoleProgress": "false",
                    # scratch files only; memory stays at the program's defaults
                    "spark.driver.extraJavaOptions": (
                        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
                    ),
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        tr.spark = self.spark
        with tr.span("catalog.open"):
            self.engine = ElevationEngine(self.spark, tile_dir=self.tile_dir)
        with tr.span("catalog.preload"), tr.jobs("preload") as pj:
            self.engine.preload()
        self.preload_jobs = pj["jobs"]
        self.pts = self.spark.read.parquet(self.points)
        self.cold = self.join_pass()
        self.setup_s = time.perf_counter() - t0

    def build(self, df, join_kwargs, build_jobs: list):
        """elevation_join up to (not including) the first action on its output."""
        with self.tracer.span("engine.build"), self.tracer.jobs("build") as bj:
            out = self.engine.elevation_join(df, **join_kwargs)
        build_jobs.append(bj)
        return out

    def _timed(self, body) -> dict:
        rec = {"error": None, "build_jobs": []}
        t0 = time.perf_counter()
        try:
            with self.tracer.span("pass") as sp:
                rec["span_id"] = sp["id"] if sp else None
                body(rec)
        except Exception as e:  # a failing pass is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            log(traceback.format_exc())
        rec["wall_s"] = time.perf_counter() - t0
        return rec

    def join_pass(self) -> dict:
        def body(rec):
            out = self.build(self.pts, self.join_kwargs, rec["build_jobs"])
            with self.tracer.span("engine.action"), self.tracer.jobs("action") as aj:
                rec["df"] = self.checksum_df(out)
                rec["chk"] = rec["df"].collect()[0]
            rec["groups"] = [aj]

        return self._timed(body)

    def checkpoint_pass(self) -> dict:
        from htg_spark.checkpoint import CheckpointedJob

        tr = self.tracer
        out_dir = os.path.join(WORK, "checkpoint", f"run-{os.getpid()}")

        def body(rec):
            shutil.rmtree(out_dir, ignore_errors=True)
            job = CheckpointedJob(out_dir, n_buckets=N_BUCKETS)

            def transform(df):
                return self.build(df, CHECKPOINT[1], rec["build_jobs"])

            with tr.span("checkpoint.killed"), tr.jobs("killed") as kj:
                try:
                    job.run(self.pts, transform, fail_after=FAIL_AFTER, wave_size=WAVE_SIZE)
                    raise AssertionError("the killed run was not interrupted")
                except RuntimeError as e:
                    if "injected failure" not in str(e):
                        raise
            committed = len(job.completed_buckets())
            with tr.span("checkpoint.resume"), tr.jobs("resume") as rj:
                summary = job.run(self.pts, transform, wave_size=WAVE_SIZE)
            with tr.span("checkpoint.read"), tr.jobs("read") as aj:
                rec["chk"] = self.checksum_df(job.read_output(self.spark)).collect()[0]
            rec["groups"] = [kj, rj, aj]
            rec["redone"] = summary["processed"] + committed - N_BUCKETS
            if committed != FAIL_AFTER:
                raise AssertionError(f"killed run committed {committed} buckets, not {FAIL_AFTER}")
            write = 0
            for dirpath, _dirs, files in os.walk(os.path.join(out_dir, "data")):
                write += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
            rec["write_mb"] = write / 2**20

        rec = self._timed(body)
        shutil.rmtree(out_dir, ignore_errors=True)
        return rec

    def verify(self, rec, expected: tuple) -> bool:
        self.attempted += 1
        if rec["error"] is None and self.chk_key(rec["chk"]) != expected:
            rec["error"] = f"checksum {self.chk_key(rec['chk'])} != oracle {expected}"
        if rec["error"] is None and rec.get("redone", 0) != 0:
            rec["error"] = f"resume redid {rec['redone']} committed buckets"
        rec["ok"] = rec["error"] is None
        if not rec["ok"]:
            self.failed += 1
            log(f"pass failed: {rec['error']}")
        return rec["ok"]

    def exact_match_ratio(self) -> float:
        """Row-level compare of one more output with the oracle, outside the
        timed window."""
        import pyarrow.parquet as pq

        out = self.engine.elevation_join(self.pts, **self.join_kwargs)
        got = out.select("image_id", "tile_lat", "tile_lon", "elevation", "knn_used").toArrow()
        got = got.sort_by("image_id")
        want = pq.read_table(self.oracle_path(self.variant)).sort_by("image_id")
        if got.num_rows != want.num_rows or got.column("image_id") != want.column("image_id"):
            return 0.0
        return float(oracle.match_mask(got, want).mean())

    # -- the run --------------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        probe_checkpoint = bool(args.trace) and self.workload == "enrich_broadcast"
        self.prepare_inputs([self.variant] + ([CHECKPOINT[0]] if probe_checkpoint else []))
        calib_s = procfs.calibrate()
        ticks0 = procfs.cpu_ticks()
        with procfs.TreeSampler() as sampler:
            self.setup()
            log(f"setup {self.setup_s:.2f}s; {self.warmup} warm-up passes")
            untimed = [self.cold] + [self.join_pass() for _ in range(self.warmup)]
            timed = []
            cpu0 = sampler.cpu_seconds()
            t_start = time.perf_counter()
            while time.perf_counter() - t_start < args.seconds:
                # in a traced run every other pass is untraced, for the overhead
                self.tracer.enabled = bool(args.trace) and len(timed) % 2 == 0
                rec = self.join_pass()
                rec["traced"] = self.tracer.enabled
                timed.append(rec)
            cpu_s = sampler.cpu_seconds() - cpu0
            # the memory peaks cover the program's work only (set-up, warm-up
            # and timed passes), not the benchmark's own checks below
            peak = sampler.peak_mb()
            self.tracer.enabled = bool(args.trace)
            heap_live = self.jvm_heap_live_mb() if args.trace else 0.0
            want = self.expected_checksum(self.variant)
            for rec in untimed + timed:
                self.verify(rec, want)
            emr = self.exact_match_ratio()
            ckpt = []
            if probe_checkpoint:
                want_ck = self.expected_checksum(CHECKPOINT[0])
                for _ in range(CHECKPOINT_PASSES):
                    rec = self.checkpoint_pass()
                    self.verify(rec, want_ck)
                    ckpt.append(rec)
        ticks1 = procfs.cpu_ticks()
        walls = [r["wall_s"] for r in timed]
        log(f"{len(timed)} timed passes: " + " ".join(f"{w:.3f}" for w in walls))
        log(f"{self.failed}/{self.attempted} passes failed, exact_match_ratio={emr}, "
            f"steal={procfs.steal_pct(ticks0, ticks1):.1f}% calib={calib_s:.3f}s")
        if args.trace:
            metrics = self.layer_metrics(timed, ckpt)
            metrics["proc.tree_peak_mb"] = (peak["total"], "MB")
            metrics["proc.driver_peak_mb"] = (peak["driver"], "MB")
            metrics["proc.jvm_peak_mb"] = (peak["jvm"], "MB")
            metrics["proc.workers_peak_mb"] = (peak["workers"], "MB")
            metrics["proc.jvm_heap_live_mb"] = (heap_live, "MB")
            metrics["host.steal_pct"] = (procfs.steal_pct(ticks0, ticks1), "%")
            metrics["host.calib_s"] = (calib_s, "s")
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            self.tracer.dump(
                os.path.join(WORK, "traces", f"{self.workload}-s{args.seed}.json"),
                workload=self.workload, seed=args.seed, rows=ROWS,
            )
        else:
            metrics = {
                "rows_per_s": (ROWS / median(walls), "1/s"),
                "cpu_s_per_mrow": (cpu_s / (ROWS * len(timed) / 1e6), "s"),
                "setup_s": (self.setup_s, "s"),
                "exact_match_ratio": (emr, "ratio"),
                "pass_ok_ratio": ((self.attempted - self.failed) / self.attempted, "ratio"),
            }
        return {
            "correct": self.failed == 0 and emr == 1.0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    # -- the traced run -------------------------------------------------------

    def layer_metrics(self, timed, ckpt) -> dict:
        tr = self.tracer
        traced = [r for r in timed if r["traced"] and r["ok"]]
        untraced = [r for r in timed if not r["traced"] and r["ok"]]

        def first(name):
            return (tr.self_times(name) or [0.0])[0]

        def per_pass(name, recs):
            # self time of the `name` spans inside each pass, median over passes
            return median([sum(tr.self_times(name, within=r["span_id"])) for r in recs])

        def count(recs, key, groups):
            return median([sum(g[key] for g in groups(r)) for r in recs])

        m = {
            "session.boot_s": (first("session.get_spark"), "s"),
            "catalog.open_s": (first("catalog.open"), "s"),
            "catalog.preload_s": (first("catalog.preload"), "s"),
            "catalog.preload_jobs": (self.preload_jobs, "count"),
            "engine.build_s": (per_pass("engine.build", traced), "s"),
            "engine.build_jobs": (count(traced, "jobs", lambda r: r["build_jobs"]), "count"),
            "engine.action_s": (per_pass("engine.action", traced), "s"),
        }
        for key in ("jobs", "stages", "tasks"):
            m[f"engine.{key}_per_pass"] = (count(traced, key, lambda r: r["groups"] + r["build_jobs"]), "count")
        plan = plan_metrics(traced[-1]["df"]) if traced else {}
        for key in PLAN_METRICS:
            unit = "MB" if key.endswith("mb") else "s" if key.endswith("_s") else "count"
            m[key] = (plan.get(key, 0.0), unit)
        m.update(self.kernel_metrics())
        ok = [r for r in ckpt if r["ok"]]
        m["checkpoint.killed_s"] = (per_pass("checkpoint.killed", ok), "s")
        m["checkpoint.resume_s"] = (per_pass("checkpoint.resume", ok), "s")
        m["checkpoint.read_s"] = (per_pass("checkpoint.read", ok), "s")
        m["checkpoint.write_mb"] = (median([r["write_mb"] for r in ok]), "MB")
        m["checkpoint.jobs"] = (count(ok, "jobs", lambda r: r["groups"] + r["build_jobs"]), "count")
        m["checkpoint.buckets_redone"] = (max([r.get("redone", 0) for r in ckpt], default=0), "count")
        t_traced = median([r["wall_s"] for r in traced])
        t_plain = median([r["wall_s"] for r in untraced])
        m["trace.overhead_pct"] = (100.0 * (t_traced - t_plain) / t_plain if t_plain else 0.0, "%")
        return m

    def jvm_heap_live_mb(self) -> float:
        """JVM heap in use after a full collection: the live data the driver
        holds, which the JVM's RSS hides behind however far the collector
        has grown the heap. Taken after the timed window, traced runs only."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def kernel_metrics(self) -> dict:
        """The kernel and codec layers, called directly on the driver."""
        import numpy as np
        import pyarrow.parquet as pq

        from htg_spark import engine as engine_mod
        from htg_spark import hgt

        tr = self.tracer
        phash = pq.read_table(self.points, columns=["phash"]).column("phash").to_numpy()[:KERNEL_ROWS]
        lat, lon = gen.phash_to_lat_lon(phash)
        blobs = {}
        for name in sorted(os.listdir(self.tile_dir)):
            with open(os.path.join(self.tile_dir, name), "rb") as f:
                blobs[hgt.filename_to_lat_lon(name)] = f.read()
        decode = []
        for _ in range(5):
            for blob in blobs.values():
                with tr.span("hgt.decode_tile"):
                    t0 = time.perf_counter()
                    hgt.decode_tile(blob)
                    decode.append(time.perf_counter() - t0)
        grids = {k: hgt.decode_tile(b) for k, b in blobs.items()}
        centres = np.array(sorted(grids), dtype=np.int64) if self.join_kwargs.get("knn_fallback") else None
        kernel = []
        for _ in range(5):
            with tr.span("engine.kernel_batch"):
                t0 = time.perf_counter()
                engine_mod.kernel_batch(lat, lon, grids.get, self.join_kwargs["mode"], knn_centers=centres)
                kernel.append(time.perf_counter() - t0)
        return {
            "hgt.kernel_rows_per_s": (len(lat) / median(kernel), "1/s"),
            "hgt.decode_ms": (median(decode) * 1e3, "ms"),
        }


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started has exited."""
    import signal

    from pyspark import SparkContext

    pids = [p for p in procfs.tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Spark's Python workers import htg_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    # spark-submit first runs a small launcher JVM; keep its files in WORK too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"

    bench = Bench(args)
    try:
        result = bench.run()
    finally:
        if getattr(bench, "spark", None) is not None:
            shutdown(bench.spark)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
