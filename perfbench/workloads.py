"""The benchmark's workloads: a user job, the inputs it needs, and the
checks its outputs must pass.

Every job is a full CLI run through the entry point's own argument
parser, on fresh output directories, in the session the benchmark
started. Inputs are generated from the workload seed; the CLIs only see
the generated files.
"""

from __future__ import annotations

import contextlib
import copy
import hashlib
import math
import os
import random
import shutil
import statistics
import time

import yaml
from pyspark.sql import functions as F

# patch catalogue for the sampling job
CATALOGUE_ROWS = 20_000
TARGET = 1_000
FEATURES = [
    "nb_sol", "nb_bati", "nb_vegetation_basse", "nb_vegetation_moyenne",
    "nb_vegetation_haute", "nb_pont", "nb_eau", "nb_sursol_perenne",
    "nb_non_classes",
]
# the sampler blocks of the repository's bench.py north-metric pipeline
SAMPLING_CONFIG = {
    "target_total_num_patches": TARGET,
    "frac_validation_set": 0.1,
    "TargettedSampler": {
        "targets": {
            "C0": {"target_min_samples_proportion": 0.20},
            "C1": {"target_min_samples_proportion": 0.05},
            "C2": {"target_min_samples_proportion": 0.05},
            "C3": {"target_min_samples_proportion": 0.2},
        }
    },
    "DiversitySampler": {
        "max_chunk_size_for_fps": 20000,
        "normalization": "standardization",
        "columns": FEATURES,
    },
}
SAMPLER_SEED = 42  # run_sampling's default --seed
ZORDER = ("geom_xmin", "geom_ymin")
BOX_SIDE = 0.3  # box query side, as a share of the catalogue extent
# combined snapshot layout of the cross-layout check: bucket(n, file_id)
CROSS_LAYOUT_BUCKETS = 4

# image catalogue for the extraction job
IMAGES = 800
IMAGE_PX = 160
CROP = (16, 16, 128, 128)
RESIZE = (64, 64)
SELECTED = 600  # images in the sampling; half of them already extracted
VAL_EVERY = 10
SPOT_CHECKS = 4


def rows_digest(rows) -> str:
    """Order-independent digest of (patch_id, split, sampler) rows."""
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


class Workload:
    """``build_inputs`` makes one copy of the inputs (timed as set-up);
    ``use_inputs`` adopts one copy; ``job`` is the timed part of job
    ``i`` and returns what ``verify`` needs; ``verify`` returns the list
    of problems (empty when the output is correct), the number of items
    the job produced and its useful-work ratios."""

    name = ""

    def __init__(self, spark, seed: int, work: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer

    def job_dir(self, i: int) -> str:
        return os.path.join(self.work, "jobs", str(i))

    def span(self, name: str):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name)

    def prepare(self, i: int) -> None:
        """Untimed per-job preparation."""

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.job_dir(i), ignore_errors=True)


class SampleCommit(Workload):
    """run_sampling (GeopandasConnector over a parquet catalogue,
    TripleSampler) committing the selection as a z-ordered snapshot,
    then one pruned box query of that snapshot version."""

    name = "sample_commit"

    def build_inputs(self, dest: str) -> None:
        from pacasam_spark.sources import synthetic

        os.makedirs(dest, exist_ok=True)
        with self.span("sources.synthetic.synthetic_catalogue"):
            synthetic.synthetic_catalogue(
                self.spark, db_size=CATALOGUE_ROWS, seed=self.seed,
                exact_counts=False,
            ).write.parquet(os.path.join(dest, "catalogue.parquet"))
        cfg = dict(SAMPLING_CONFIG)
        cfg["connector_kwargs"] = {"path": os.path.join(dest, "catalogue.parquet")}
        with open(os.path.join(dest, "sampling.yml"), "w") as fh:
            yaml.safe_dump(cfg, fh)

    def use_inputs(self, dest: str) -> None:
        self.inputs = dest
        extent = math.ceil(math.sqrt(CATALOGUE_ROWS)) * 50.0
        side = BOX_SIDE * extent
        rng = random.Random(self.seed)
        x0, y0 = rng.uniform(0, extent - side), rng.uniform(0, extent - side)
        self.box = {ZORDER[0]: (x0, x0 + side), ZORDER[1]: (y0, y0 + side)}
        self.digests: set[str] = set()  # one per distinct job selection

    def job(self, i: int):
        from pacasam_spark import run_sampling
        from pacasam_spark.sources import snapshots

        d = self.job_dir(i)
        argv = [
            "--config", os.path.join(self.inputs, "sampling.yml"),
            "--connector_class", "GeopandasConnector",
            "--sampler_class", "TripleSampler",
            "--seed", str(SAMPLER_SEED),
            "--output", os.path.join(d, "out"),
            "--snapshot-dir", os.path.join(d, "snapshot"),
            "--zorder", ",".join(ZORDER),
        ]
        summary = run_sampling.run(run_sampling.build_parser().parse_args(argv))
        with self.span("bench.box_query"):
            version = summary["snapshot_version"]
            hit = snapshots.read_snapshot(
                self.spark, os.path.join(d, "snapshot"), version=version,
                bounds=self.box,
            )
            box_ids = {
                r[0] for r in hit.filter(_box_filter(self.box)).select("patch_id").collect()
            }
        return summary, box_ids

    def verify(self, i: int, result) -> tuple[list[str], int, dict]:
        from pacasam_spark.sources import snapshots

        summary, box_ids = result
        problems = []
        if summary["n_sampled"] != TARGET:
            problems.append(f"n_sampled {summary['n_sampled']} != {TARGET}")
        rows = (
            self.spark.read.parquet(summary["sampling_path"])
            .select("patch_id", "split", "sampler")
            .collect()
        )
        ids = [r[0] for r in rows]
        if len(ids) != TARGET or len(set(ids)) != len(ids):
            problems.append(f"{len(ids)} rows, {len(set(ids))} distinct patch_id")
        splits = {r[1] for r in rows}
        if not splits <= {"train", "val"}:
            problems.append(f"unexpected splits {sorted(splits)}")
        self.digests.add(rows_digest(rows))
        if len(self.digests) != 1:
            problems.append("selection digest differs between jobs of the run")
        table = os.path.join(self.job_dir(i), "snapshot")
        version = summary["snapshot_version"]
        full = snapshots.read_snapshot(self.spark, table, version=version)
        exact = {
            r[0] for r in full.filter(_box_filter(self.box)).select("patch_id").collect()
        }
        if exact != box_ids:
            problems.append(
                f"pruned box read has {len(box_ids)} ids, exact filter {len(exact)}"
            )
        manifest = next(m for m in snapshots.snapshots(table) if m["version"] == version)
        files_ratio = len(snapshots.prune_files(manifest, self.box)) / len(manifest["files"])
        return problems, summary["n_sampled"], {
            "sources.snapshots.read_snapshot.files_ratio": files_ratio
        }

    def cross_layout(self) -> list[str]:
        """Commit the catalogue in the combined snapshot layout (bucketed
        by file_id, normalization partials and per-file_id counts in the
        manifests) and run TripleSampler over it with manifest-fed
        statistics, as ``run_sampling --catalogue-table`` wires it. The
        selection must equal the flat catalogue's."""
        from pacasam_spark.samplers import SAMPLER_REGISTRY
        from pacasam_spark.sources import snapshots

        table = os.path.join(self.work, "cross_layout")
        catalogue = self.spark.read.parquet(os.path.join(self.inputs, "catalogue.parquet"))
        snapshots.write_snapshot(
            catalogue, table, norm_columns=FEATURES, count_key="file_id",
            bucket_by=("file_id", CROSS_LAYOUT_BUCKETS),
            sort_by=("file_id", "patch_id"),
        )
        cfg = copy.deepcopy(SAMPLING_CONFIG)
        cfg["DiversitySampler"]["manifest_stats"] = {"dir": table}
        db = snapshots.read_snapshot(self.spark, table)
        sel = SAMPLER_REGISTRY["TripleSampler"](db, cfg, seed=SAMPLER_SEED).get_patches()
        rows = sel.select("patch_id", "split", "sampler").collect()
        if {rows_digest(rows)} != self.digests:
            return ["combined-layout selection differs from the flat catalogue's"]
        return []


class ExtractResume(Workload):
    """run_extraction over an image catalogue with crop, resize and PNG
    re-encode, resuming from a manifest that already holds half of the
    sampling."""

    name = "extract_resume"

    def build_inputs(self, dest: str) -> None:
        from pacasam_spark.sources import images

        os.makedirs(dest, exist_ok=True)
        img_path = os.path.join(dest, "images.parquet")
        with self.span("sources.images.synthetic_images"):
            images.synthetic_images(self.spark, n=IMAGES, size=IMAGE_PX).write.parquet(
                img_path
            )
        # exact shares, so every seed does the same amount of work: the
        # seed orders the ids, the first SELECTED form the sampling (every
        # VAL_EVERY-th of them val) and the first half of those are done
        ids = sorted(
            (r[0] for r in self.spark.read.parquet(img_path).select("image_id").collect()),
            key=lambda image_id: hashlib.sha256(f"{self.seed}:{image_id}".encode()).digest(),
        )[:SELECTED]
        rows = [(k, "val" if n % VAL_EVERY == 0 else "train") for n, k in enumerate(ids)]
        self.spark.createDataFrame(rows, "image_id string, split string").write.parquet(
            os.path.join(dest, "sampling.parquet")
        )
        done = [(k,) for k in ids[: SELECTED // 2]]
        self.spark.createDataFrame(done, "image_id string").write.parquet(
            os.path.join(dest, "manifest.parquet")
        )

    def use_inputs(self, dest: str) -> None:
        self.inputs = dest
        self.n_todo = SELECTED - SELECTED // 2

    def prepare(self, i: int) -> None:
        """Seed a fresh dataset root with the half-done manifest."""
        shutil.copytree(
            os.path.join(self.inputs, "manifest.parquet"),
            os.path.join(self.job_dir(i), "dataset", "_manifest"),
        )

    def job(self, i: int):
        from pacasam_spark import run_extraction

        argv = [
            "-s", os.path.join(self.inputs, "sampling.parquet"),
            "--images_path", os.path.join(self.inputs, "images.parquet"),
            "-d", os.path.join(self.job_dir(i), "dataset"),
            "--crop", ",".join(map(str, CROP)),
            "--resize", ",".join(map(str, RESIZE)),
            "--out_fmt", "png",
        ]
        return run_extraction.run(run_extraction.build_parser().parse_args(argv))

    def verify(self, i: int, summary) -> tuple[list[str], int, dict]:
        from pacasam_spark.imaging import decode

        problems = []
        if summary["written"] != self.n_todo:
            problems.append(f"written {summary['written']} != to-do {self.n_todo}")
        if summary["skipped_existing_files"] or summary["unmatched_ids"]:
            problems.append(
                f"skipped {summary['skipped_existing_files']}, "
                f"unmatched {summary['unmatched_ids']}"
            )
        root = os.path.join(self.job_dir(i), "dataset")
        files = sorted(
            os.path.join(split, f)
            for split in ("train", "val")
            if os.path.isdir(os.path.join(root, split))
            for f in os.listdir(os.path.join(root, split))
        )
        if len(files) != self.n_todo:
            problems.append(f"{len(files)} files on disk != to-do {self.n_todo}")
        for rel in random.Random(self.seed + i).sample(files, min(SPOT_CHECKS, len(files))):
            split, fname = os.path.split(rel)
            with open(os.path.join(root, rel), "rb") as fh:
                shape = decode(fh.read(), "png").shape
            if shape != (RESIZE[1], RESIZE[0], 3):
                problems.append(f"{rel} decodes to {shape}")
            if not fname.startswith(split.upper() + "-"):
                problems.append(f"{rel} is not named {split.upper()}-<id>.png")
        attempted = summary["written"] + summary["skipped_existing_files"]
        todo = attempted + summary["unmatched_ids"]
        return problems, summary["written"], {
            "extract.images.resume_filter.todo_ratio": todo / SELECTED,
            "extract.filesink.write_patch_files.written_ratio":
                summary["written"] / max(attempted, 1),
        }

    def codec_timings(self, passes: int = 3, n: int = 32) -> dict[str, float]:
        """Microseconds per image of each codec step the extraction
        workers run, timed in this process on ``n`` of the workload's
        images (median over ``passes``)."""
        from pacasam_spark import imaging

        rows = (
            self.spark.read.parquet(os.path.join(self.inputs, "images.parquet"))
            .select("bytes", "fmt").limit(n).collect()
        )
        x0, y0, cw, ch = CROP
        per_pass = {"decode": [], "resize_rgb": [], "encode": []}
        for _ in range(passes):
            t = dict.fromkeys(per_pass, 0.0)
            for data, fmt in rows:
                t0 = time.perf_counter()
                arr = imaging.decode(bytes(data), fmt)
                t1 = time.perf_counter()
                small = imaging.resize_rgb(arr[y0:y0 + ch, x0:x0 + cw], *RESIZE)
                t2 = time.perf_counter()
                imaging.encode(small, "png")
                t3 = time.perf_counter()
                t["decode"] += t1 - t0
                t["resize_rgb"] += t2 - t1
                t["encode"] += t3 - t2
            for k, v in t.items():
                per_pass[k].append(v / len(rows) * 1e6)
        return {k: statistics.median(v) for k, v in per_pass.items()}


WORKLOADS = {w.name: w for w in (ExtractResume, SampleCommit)}


def _box_filter(box):
    cond = None
    for col, (lo, hi) in box.items():
        c = F.col(col).between(lo, hi)
        cond = c if cond is None else cond & c
    return cond
