"""End-to-end and per-layer benchmark of the two pacasam_spark user jobs.

    python3 perfbench/run.py --workload sample_commit --seed 1 --seconds 10 --trace 0

Run from the repository root. One process starts one Spark session
sized to the machine, builds the workload's inputs from ``--seed``,
then runs jobs in a closed loop (one client, each job a full CLI run on
fresh output directories): a first job in the fresh session, then warm
jobs until ``--seconds`` have passed (at least one). Every job's output
is checked. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` installs
span wrappers around each layer's public functions, enables Spark's
event log and reports the per-layer metrics instead (README.md).
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
from collections import defaultdict
from contextlib import nullcontext

from procmon import PeakMemory
from tracer import Tracer, fold_event_log, read_event_log, skew

WORK_ROOT = ".perfbench_work"
SETUP_REPS = 3

# (module, attribute the caller binds, span name): each wrapper sits at
# the name the calling code looks up at call time
PATCHES = [
    ("pacasam_spark.run_sampling", "run", "run_sampling.run"),
    ("pacasam_spark.run_extraction", "run", "run_extraction.run"),
    ("pacasam_spark.run_sampling", "get_spark", "session.get_spark"),
    ("pacasam_spark.run_extraction", "get_spark", "session.get_spark"),
    ("pacasam_spark.sources.files", "read_catalogue", "sources.files.read_catalogue"),
    ("pacasam_spark.sources.snapshots", "read_snapshot", "sources.snapshots.read_snapshot"),
    ("pacasam_spark.sources.snapshots", "write_snapshot", "sources.snapshots.write_snapshot"),
    ("pacasam_spark.sources.snapshots", "snapshot_fps_inputs",
     "sources.snapshots.snapshot_fps_inputs"),
    ("pacasam_spark.spatial.zorder", "cluster_by_zorder", "spatial.zorder.cluster_by_zorder"),
    ("pacasam_spark.samplers.triple", "TripleSampler.get_patches",
     "samplers.triple.TripleSampler.get_patches"),
    ("pacasam_spark.samplers.targetted", "TargettedSampler.get_patches",
     "samplers.targetted.TargettedSampler.get_patches"),
    ("pacasam_spark.samplers.diversity", "DiversitySampler.prepare",
     "samplers.diversity.DiversitySampler.prepare"),
    ("pacasam_spark.samplers.diversity", "DiversitySampler.get_patches",
     "samplers.diversity.DiversitySampler.get_patches"),
    ("pacasam_spark.samplers.diversity", "standardize", "operators.normalize.standardize"),
    ("pacasam_spark.samplers.diversity", "fps_sample", "operators.fps.fps_sample"),
    ("pacasam_spark.samplers.spatial", "SpatialSampler.get_patches",
     "samplers.spatial.SpatialSampler.get_patches"),
    ("pacasam_spark.samplers.triple", "union_dedup_priority",
     "operators.union.union_dedup_priority"),
    ("pacasam_spark.samplers.targetted", "union_dedup_priority",
     "operators.union.union_dedup_priority"),
    ("pacasam_spark.operators.joins", "selection_join", "operators.joins.selection_join"),
    ("pacasam_spark.samplers.base", "assign_split", "operators.split.assign_split"),
    ("pacasam_spark.run_sampling", "save_sampling", "sources.files.save_sampling"),
    ("pacasam_spark.run_sampling", "write_comparison_reports",
     "plans.stats.write_comparison_reports"),
    ("pacasam_spark.extract.images", "resume_filter", "extract.images.resume_filter"),
    ("pacasam_spark.extract.images", "extract_patches", "extract.images.extract_patches"),
    ("pacasam_spark.extract.filesink", "write_patch_files",
     "extract.filesink.write_patch_files"),
]
UNION = "operators.union.union_dedup_priority"

# per warm job: wall, self time and calls of every span (the manifest
# statistics reader only runs in the cross-layout check) ...
JOB_SPANS = sorted(
    {name for _, _, name in PATCHES if name != "sources.snapshots.snapshot_fps_inputs"}
    | {"bench.box_query"}
)
# ... and the Spark work they issued, where that work is not negligible
SPARK_SPANS = [
    "run_sampling.run",
    "run_extraction.run",
    "samplers.triple.TripleSampler.get_patches",
    "samplers.targetted.TargettedSampler.get_patches",
    "operators.normalize.standardize",
    "operators.split.assign_split",
    "plans.stats.write_comparison_reports",
    "sources.snapshots.write_snapshot",
]
SPARK_STATS = ["jobs", "busy_s", "shuffle_mb", "rows_in", "skew"]
RATIOS = [
    "operators.union.union_dedup_priority.kept_ratio",
    "extract.images.resume_filter.todo_ratio",
    "extract.filesink.write_patch_files.written_ratio",
    "sources.snapshots.read_snapshot.files_ratio",
]
SETUP_SPANS = [
    "session.get_spark",
    "sources.synthetic.synthetic_catalogue",
    "sources.images.synthetic_images",
]
CROSS_LAYOUT = [
    ("sources.snapshots.write_snapshot", "s"),
    ("sources.snapshots.snapshot_fps_inputs", "s"),
    ("samplers.triple.TripleSampler.get_patches", "s"),
    ("operators.normalize.standardize", "calls"),
    ("operators.normalize.standardize", "jobs"),
]
CODECS = ["decode", "resize_rgb", "encode"]

UNITS = {
    "s": "s", "self_s": "s", "busy_s": "s", "calls": "count", "jobs": "count",
    "rows_in": "count", "shuffle_mb": "MB", "skew": "ratio", "us_per_image": "us",
}


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    out = {}
    for name in JOB_SPANS:
        for stat in ("s", "self_s", "calls"):
            out[f"{name}.{stat}"] = UNITS[stat]
    for name in SPARK_SPANS:
        for stat in SPARK_STATS:
            out[f"{name}.{stat}"] = UNITS[stat]
    for name in RATIOS:
        out[name] = "ratio"
    for name in SETUP_SPANS:
        out[f"setup.{name}.s"] = "s"
    for name, stat in CROSS_LAYOUT:
        out[f"cross_layout.{name}.{stat}"] = UNITS[stat]
    for codec in CODECS:
        out[f"imaging.{codec}.us_per_image"] = "us"
    out["trace.job_s"] = "s"
    out["trace.overhead_s"] = "s"
    return out


END_TO_END_UNITS = {
    "setup_s": "s",
    "first_job_s": "s",
    "job_s": "s",
    "patches_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def session_settings(work: str, trace: bool) -> dict:
    """Session sized to this machine: one core per CPU the process may
    use, a driver heap of an eighth of RAM (1-8 GiB), no console
    progress bar, and every scratch file inside ``work``."""
    cores = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    heap_mb = min(max(mem_mb // 8, 1024), 8192)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return {"cores": cores, "driver_mem": f"{heap_mb}m", "extra_conf": conf}


def install(tracer: Tracer, union_calls: list) -> None:
    import importlib

    def record_union(tag, args, out):
        # the union is lazy: its row counts are taken after the job, so
        # counting adds no Spark jobs inside it
        union_calls.append((tag, list(args[0]), out))

    for module, attr, name in PATCHES:
        owner = importlib.import_module(module)
        *path, attr = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        tracer.patch(owner, attr, name, record_union if name == UNION else None)
    tracer.propagate_thread_pools()


def median(values, default=0.0):
    return statistics.median(values) if values else default


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.tracer = Tracer() if self.trace else None
        self.union_calls: list = []
        self.jobs: list[dict] = []
        self.problems: list[str] = []

    def tagged(self, tag):
        if self.tracer is not None:
            self.tracer.tag = tag

    def execute(self) -> None:
        from workloads import WORKLOADS

        if self.tracer is not None:
            install(self.tracer, self.union_calls)
        settings = session_settings(self.work, self.trace)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = settings["driver_mem"]
        self.settings = settings

        self.tagged("setup")
        t0 = time.perf_counter()
        from pacasam_spark import session

        with self.tracer.span("session.get_spark") if self.tracer else nullcontext():
            spark = session.get_spark(
                app_name="perfbench", cores=settings["cores"],
                extra_conf=settings["extra_conf"],
            )
        self.session_s = time.perf_counter() - t0
        self.spark = spark
        gateway = spark.sparkContext._gateway  # owns the JVM process
        try:
            if self.tracer is not None:
                self.tracer.sc = spark.sparkContext
            wl = WORKLOADS[self.args.workload](
                spark, self.args.seed, self.work, self.tracer
            )
            self.build_s = []
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                wl.build_inputs(os.path.join(self.work, "inputs", str(rep)))
                self.build_s.append(time.perf_counter() - t)
            wl.use_inputs(os.path.join(self.work, "inputs", "0"))
            self.tagged(None)
            self.run_jobs(wl)
            self.extras = self.traced_extras(wl) if self.trace else {}
        finally:
            if self.tracer is not None:
                self.tracer.unpatch()
            stop_session(spark, gateway)

    def run_jobs(self, wl) -> None:
        warm_start = None
        i = 0
        while True:
            self.run_job(wl, i)
            if warm_start is None:
                warm_start = time.perf_counter()
            elif time.perf_counter() - warm_start >= self.args.seconds:
                break
            i += 1

    def run_job(self, wl, i: int) -> None:
        self.spark.catalog.clearCache()
        wl.prepare(i)
        rec = {"i": i, "ok": False, "n": 0, "ratios": {}}
        self.tagged(i)
        t = time.perf_counter()
        try:
            result = wl.job(i)
        except Exception:
            traceback.print_exc()
            self.problems.append(f"job {i} raised")
            result = None
        rec["s"] = time.perf_counter() - t
        self.tagged("verify")
        if result is not None:
            try:
                problems, rec["n"], rec["ratios"] = wl.verify(i, result)
            except Exception:
                traceback.print_exc()
                problems = ["verification raised"]
            self.problems.extend(f"job {i}: {p}" for p in problems)
            rec["ok"] = not problems
            if self.trace and rec["ok"]:
                rec["ratios"][UNION + ".kept_ratio"] = self.union_kept_ratio(i)
        self.tagged(None)
        wl.cleanup(i)
        self.jobs.append(rec)

    def union_kept_ratio(self, i: int) -> float:
        rows_in = rows_out = 0
        for tag, dfs, out in self.union_calls:
            if tag == i:
                rows_in += sum(df.count() for df in dfs)
                rows_out += out.count()
        return rows_out / rows_in if rows_in else 0.0

    def traced_extras(self, wl) -> dict:
        """Work done only in the traced run, after the timed jobs."""
        extras = {}
        if hasattr(wl, "cross_layout"):
            self.tagged("cross_layout")
            try:
                self.problems.extend(wl.cross_layout())
            except Exception:
                traceback.print_exc()
                self.problems.append("cross-layout check raised")
            self.tagged(None)
        if hasattr(wl, "codec_timings"):
            extras.update(
                (f"imaging.{k}.us_per_image", v) for k, v in wl.codec_timings().items()
            )
        return extras

    # --- results --------------------------------------------------------

    def warm(self) -> list[dict]:
        return [j for j in self.jobs[1:] if j["ok"]]

    def result(self) -> dict:
        failed = sum(not j["ok"] for j in self.jobs)
        if self.trace:
            self.problems.extend(self.check_bypasses())
            metrics = self.layer_metrics()
            units = layer_metric_units()
        else:
            metrics = self.end_to_end()
            units = END_TO_END_UNITS
        return {
            "correct": not self.problems,
            "attempted": len(self.jobs),
            "failed": failed,
            "metrics": {
                k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()
            },
        }

    def end_to_end(self) -> dict:
        warm = self.warm()
        first = self.jobs[0]
        return {
            "setup_s": self.session_s + median(self.build_s),
            "first_job_s": first["s"],
            "job_s": median([j["s"] for j in warm]),
            "patches_per_s": median([j["n"] / j["s"] for j in warm]),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def check_bypasses(self) -> list[str]:
        ran = {s.name for s in self.tracer.spans if isinstance(s.tag, int)}
        if self.args.workload == "extract_resume":
            bad = [n for n in ran if n.startswith(("samplers.", "operators.fps."))]
        else:
            bad = [n for n in ran if n.startswith("extract.")]
        return [f"span {n} ran on {self.args.workload}" for n in sorted(bad)]

    def layer_metrics(self) -> dict:
        tracer = self.tracer
        log_dir = self.settings["extra_conf"]["spark.eventLog.dir"]
        fold_event_log(tracer, read_event_log(log_dir))
        self_s = tracer.self_times()

        def per_tag(spans) -> dict:
            acc = defaultdict(lambda: defaultdict(float))
            stages = defaultdict(dict)
            for s in spans:
                m = acc[(s.tag, s.name)]
                m["s"] += s.t1 - s.t0
                m["self_s"] += self_s[s.sid]
                m["calls"] += 1
                for k in ("jobs", "busy_s", "shuffle_mb", "rows_in"):
                    m[k] += s.spark.get(k, 0)
                stages[(s.tag, s.name)].update(s.spark.get("stage_ms", {}))
            for key, st in stages.items():
                acc[key]["skew"] = skew(st)
            return acc

        tags = {j["i"] for j in self.warm()}
        acc = per_tag(s for s in tracer.spans if s.tag in tags)
        out = {}

        def over_jobs(name, stat):
            return median([acc[(t, name)][stat] if (t, name) in acc else 0.0 for t in tags])

        for name in JOB_SPANS:
            for stat in ("s", "self_s", "calls"):
                out[f"{name}.{stat}"] = over_jobs(name, stat)
        for name in SPARK_SPANS:
            for stat in SPARK_STATS:
                out[f"{name}.{stat}"] = over_jobs(name, stat)
        for name in RATIOS:
            out[name] = median([j["ratios"][name] for j in self.warm() if name in j["ratios"]])
        for name in SETUP_SPANS:
            out[f"setup.{name}.s"] = median(
                [s.t1 - s.t0 for s in tracer.spans if s.tag == "setup" and s.name == name]
            )
        cross = per_tag(s for s in tracer.spans if s.tag == "cross_layout")
        for name, stat in CROSS_LAYOUT:
            out[f"cross_layout.{name}.{stat}"] = cross[("cross_layout", name)][stat]
        out.update(self.extras)
        out["trace.job_s"] = median([j["s"] for j in self.warm()])
        out["trace.overhead_s"] = median([tracer.overhead_s.get(t, 0.0) for t in tags])
        return out

    def summary_line(self) -> str:
        warm = self.warm()
        failed = sum(not j["ok"] for j in self.jobs)
        return (
            f"perfbench workload={self.args.workload} seed={self.args.seed} "
            f"trace={int(self.trace)} cores={self.settings['cores']} "
            f"driver_mem={self.settings['driver_mem']} jobs={len(self.jobs)} "
            f"warm_jobs={len(warm)} failed_share={failed}/{len(self.jobs)}"
            f"={failed / max(len(self.jobs), 1):.3f} session_s={self.session_s:.2f} "
            f"builds_s={[round(b, 2) for b in self.build_s]} "
            f"jobs_s={[round(j['s'], 2) for j in self.jobs]}"
        )


def stop_session(spark, gateway) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to end
    (its Python workers exit with it)."""
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the warm-job phase")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pacasam_spark", "__init__.py")):
        print(
            "perfbench: run from the repository root (no pacasam_spark/ here)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the session ships the package through a zip in the temp dir,
    # SPARK_LOCAL_DIRS would override spark.local.dir, and every JVM
    # would otherwise keep a perf-data file under /tmp
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    run = Run(args, work)
    try:
        with PeakMemory() as mem:
            run.execute()
        run.peak_rss_mb = mem.peak_mb
        result = run.result()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_ROOT))
        except OSError:
            pass  # another run's work dir is still there
    for p in run.problems:
        print(f"perfbench: FAILED CHECK {p}", file=sys.stderr)
    print(run.summary_line())
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
