"""Comparer stats tests (reference:
tests/tests_pacasam/analysis/test_stats.py:6-21 — the report CSVs exist),
plus a pandas oracle for every report, the job budget of the report
writer, HALF_UP ratio rounding and directory overwrite."""

import copy
import csv
import glob
import os
from decimal import ROUND_HALF_UP, Decimal

import pytest
from conftest import SAMPLING_CONFIG
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pacasam_spark.plans.stats import (
    _csv_text,
    compare_bools,
    compare_by_key,
    compare_sizes,
    write_comparison_reports,
)
from pacasam_spark.samplers import TripleSampler

SIX_REPORTS = [
    "comparison-bool_descriptors",
    "comparison-areas",
    "comparison-bool_descriptors-by_sampler",
    "comparison-sizes-by_sampler",
    "comparison-bool_descriptors-by_split",
    "comparison-sizes-by_split",
]


@pytest.fixture(scope="module")
def extracted(spark, catalogue):
    """The TripleSampler selection joined back to the catalogue, as
    run_sampling builds it. The selection is checkpointed so the report
    queries of each test plan over a short lineage."""
    sampling = (
        TripleSampler(catalogue, copy.deepcopy(SAMPLING_CONFIG))
        .get_patches()
        .localCheckpoint()
    )
    return catalogue.join(F.broadcast(sampling), "patch_id")


def test_compare_bools_and_sizes(spark, catalogue, extracted):
    bools = compare_bools(catalogue, extracted)
    rows = {r["descriptor"]: r for r in bools.collect()}
    assert set(rows) == {"C0", "C1", "C2", "C3"}
    # C3 prevalence in db is exactly ceil(0.7*200)/200
    assert rows["C3"]["df_database"] == 140 / 200
    assert all(0.0 <= r["df_sampling"] <= 1.0 for r in rows.values())

    sizes = {r["metric"]: r for r in compare_sizes(catalogue, extracted).collect()}
    assert sizes["num_patches"]["df_database"] == 200.0
    assert sizes["num_patches"]["df_sampling"] == 50.0
    # 50m x 50m patches -> 0.0025 km^2 each
    assert abs(sizes["area_km2"]["df_database"] - 200 * 0.0025) < 1e-9
    assert sizes["num_patches"]["ratio"] == 0.25


def test_compare_by_key_gate(spark, catalogue, extracted):
    by_sampler = compare_by_key(catalogue, extracted, "sampler")
    assert by_sampler is not None
    assert by_sampler.count() == 4 * by_sampler.select("sampler").distinct().count()
    # single-valued key -> gated out (reference stats.py:36)
    single = extracted.withColumn("sampler", F.lit("only"))
    assert compare_by_key(catalogue, single, "sampler") is None


def test_write_six_reports(spark, catalogue, extracted, tmp_path):
    names = write_comparison_reports(catalogue, extracted, str(tmp_path / "stats"))
    assert names == SIX_REPORTS
    for n in names:
        assert spark.read.option("header", True).csv(
            str(tmp_path / "stats" / n)
        ).count() > 0


# --- pandas oracle ------------------------------------------------------


def _half_up(x: float) -> float:
    """Spark's round(x, 2) on a double: HALF_UP on the shortest decimal."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


def _oracle(db, sampling) -> dict:
    """Every report recomputed in pandas: {name: (header, rows)}."""
    cols = [
        f.name
        for f in db.schema.fields
        if isinstance(f.dataType, T.BooleanType) and f.name != "test"
    ]
    db_pdf, s_pdf = db.toPandas(), sampling.toPandas()

    def metrics(pdf) -> dict:
        area = (pdf.geom_xmax - pdf.geom_xmin) * (pdf.geom_ymax - pdf.geom_ymin) / 1e6
        return {
            **{c: float(pdf[c].astype(float).mean()) for c in cols},
            "area_km2": float(area.sum()),
            "num_patches": float(len(pdf)),
        }

    base, overall = metrics(db_pdf), metrics(s_pdf)

    def ratio(m: str, values: dict):
        return _half_up(values[m] / base[m]) if base[m] else None

    values = ["df_database", "df_sampling", "ratio"]
    out = {
        "comparison-bool_descriptors": (
            ["descriptor", *values],
            [(c, base[c], overall[c], ratio(c, overall)) for c in cols],
        ),
        "comparison-areas": (
            ["metric", *values],
            [
                (m, base[m], overall[m], ratio(m, overall))
                for m in ("area_km2", "num_patches")
            ],
        ),
    }
    for key in ("sampler", "split"):
        groups = {v: metrics(g) for v, g in s_pdf.groupby(key)}
        if len(groups) <= 1:
            continue
        out[f"comparison-bool_descriptors-by_{key}"] = (
            ["descriptor", key, *values],
            [(c, v, base[c], g[c], ratio(c, g)) for v, g in groups.items() for c in cols],
        )
        out[f"comparison-sizes-by_{key}"] = (
            [key, "area_km2", "num_patches"],
            [(v, g["area_km2"], int(g["num_patches"])) for v, g in groups.items()],
        )
    return out


def _read_reports(out_dir: str) -> dict:
    """{name: (header, rows)} of every report directory under out_dir,
    parsed from its single part file."""
    out = {}
    for name in os.listdir(out_dir):
        [part] = glob.glob(os.path.join(out_dir, name, "part-*.csv"))
        with open(part, newline="") as fh:
            header, *rows = csv.reader(fh, escapechar="\\")
        out[name] = (header, rows)
    return out


def _assert_matches_oracle(got: dict, want: dict) -> None:
    """Same report names, headers and rows. Every field is an equal
    value, except area sums: pandas adds in another order than Spark,
    so those agree to 1e-12 relative."""
    assert sorted(got) == sorted(want)
    for name, (header, rows) in want.items():
        got_header, got_rows = got[name]
        assert got_header == header, name
        labels = [i for i, h in enumerate(header) if h in ("descriptor", "metric", "sampler", "split")]

        def label(row):
            return tuple(str(row[i]) for i in labels)

        assert sorted(map(label, got_rows)) == sorted(map(label, rows)), name
        by_label = {label(r): r for r in got_rows}
        for row in rows:
            text = by_label[label(row)]
            is_area_row = row[0] == "area_km2"
            for h, field, expected in zip(header, text, row):
                where = (name, label(row), h)
                if expected is None:
                    assert field == "", where
                elif isinstance(expected, str):
                    assert field == expected, where
                elif isinstance(expected, int):
                    assert int(field) == expected, where
                elif h == "area_km2" or (is_area_row and h != "ratio"):
                    assert float(field) == pytest.approx(expected, rel=1e-12), where
                else:
                    assert float(field) == expected, where


@pytest.mark.parametrize("variant", ["as_sampled", "single_sampler", "all_false_descriptor"])
def test_reports_match_pandas_oracle(spark, catalogue, extracted, tmp_path, variant):
    db, sampling = catalogue, extracted
    if variant == "single_sampler":
        sampling = sampling.withColumn("sampler", F.lit("only"))
    elif variant == "all_false_descriptor":
        # df_database is 0 for C_none: the ratio is null, not DIVIDE_BY_ZERO
        db = db.withColumn("C_none", F.lit(False))
        sampling = sampling.withColumn("C_none", F.lit(False))

    out = str(tmp_path / "stats")
    names = write_comparison_reports(db, sampling, out)
    want = _oracle(db, sampling)
    assert names == [n for n in SIX_REPORTS if n in want]
    _assert_matches_oracle(_read_reports(out), want)

    if variant == "single_sampler":
        assert not any(n.endswith("by_sampler") for n in os.listdir(out))
        assert any(n.endswith("by_split") for n in os.listdir(out))
    if variant == "all_false_descriptor":
        header, rows = _read_reports(out)["comparison-bool_descriptors"]
        assert ["C_none", "0.0", "0.0", ""] in rows
        none = [r for r in compare_bools(db, sampling).collect() if r["descriptor"] == "C_none"]
        assert none[0]["ratio"] is None


# --- job budget ---------------------------------------------------------

_WRITE_PLANS = ("InsertInto", "WriteFiles", "SaveIntoDataSource")


def test_reports_run_few_jobs_and_no_spark_write(spark, catalogue, extracted, tmp_path):
    """All six reports cost two aggregations (5 jobs with the selection
    broadcast and AQE's map stages), and Spark writes no file: a return
    of per-report queries or df.write calls fails here."""
    sc = spark.sparkContext
    catalogue.count()  # the cached fixture is materialized outside the group
    group = "comparison-reports-job-budget"
    sc.setJobGroup(group, group)
    try:
        write_comparison_reports(catalogue, extracted, str(tmp_path / "stats"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < len(jobs) <= 6, sorted(jobs)

    # every job ran inside a SQL query whose plan writes nothing
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    covered = set()
    for i in range(executions.size()):
        execution = executions.apply(i)
        mine = {j for j in jobs if execution.jobs().contains(j)}
        if mine:
            covered |= mine
            plan = execution.physicalPlanDescription()
            assert not any(w in plan for w in _WRITE_PLANS), plan
    assert covered == jobs


# --- rounding, text, overwrite ------------------------------------------


def _patches(spark, n: int, n_true: int):
    """n 50 m patches in a row; descriptor b is true on the first n_true."""
    return spark.range(n).select(
        (F.col("id") < n_true).alias("b"),
        (F.col("id") * 50.0).alias("geom_xmin"),
        F.lit(0.0).alias("geom_ymin"),
        (F.col("id") * 50.0 + 50.0).alias("geom_xmax"),
        F.lit(50.0).alias("geom_ymax"),
        F.lit("only").alias("sampler"),
        F.lit("train").alias("split"),
    )


def test_ratio_rounds_half_up(spark, tmp_path):
    """Ratios round HALF_UP on the shortest decimal, as Spark's round
    does; Python's round (binary value, ties to even) gives the other
    answer on both of these."""
    # b: 1/8 in the sampling over 1.0 in the catalogue -> 0.125
    db, sampling = _patches(spark, 8, 8), _patches(spark, 8, 1)
    [b] = compare_bools(db, sampling).collect()
    assert (b["ratio"], round(0.125, 2)) == (0.13, 0.12)

    out = str(tmp_path / "stats")
    assert write_comparison_reports(db, sampling, out) == SIX_REPORTS[:2]
    assert _read_reports(out)["comparison-bool_descriptors"][1] == [
        ["b", "1.0", "0.125", "0.13"]
    ]

    # 107 / 40 patches: the double nearest 2.675, which lies below it
    sizes = compare_sizes(_patches(spark, 40, 0), _patches(spark, 107, 0))
    n = {r["metric"]: r for r in sizes.collect()}["num_patches"]
    assert (n["ratio"], round(107 / 40, 2)) == (2.68, 2.67)


def test_empty_sampling_reports(spark, tmp_path):
    """An empty sampling has no cube rows at all; its overall values are
    null except the patch count, 0 (ratio 0.0), as a global agg gives."""
    out = str(tmp_path / "stats")
    names = write_comparison_reports(_patches(spark, 8, 8), _patches(spark, 0, 0), out)
    assert names == SIX_REPORTS[:2]
    reports = _read_reports(out)
    assert reports["comparison-bool_descriptors"][1] == [["b", "1.0", "", ""]]
    area, count = reports["comparison-areas"][1]
    assert (area[0], area[2:]) == ("area_km2", ["", ""])
    assert count == ["num_patches", "8.0", "0.0", "0.0"]


def test_double_text_matches_spark_csv(spark, tmp_path):
    """Report fields read as Spark's own CSV writer prints doubles."""
    values = [0.0, -0.0, 1e-4, 0.001, 0.0025, 0.7, 1 / 3, 200.0, 9999999.0,
              1e7, 12345678.9, -2.5e-7, 1.7976931348623157e308]
    path = str(tmp_path / "spark")
    spark.createDataFrame([(v,) for v in values], "v double").coalesce(1).write.csv(path)
    [part] = glob.glob(f"{path}/part-*.csv")
    with open(part) as fh:
        assert fh.read().splitlines() == [_csv_text(v) for v in values]


def test_rewrite_replaces_report_dirs(spark, catalogue, extracted, tmp_path):
    out = str(tmp_path / "stats")
    names = write_comparison_reports(catalogue, extracted, out)
    with open(os.path.join(out, names[0], "part-00001-stale.csv"), "w") as fh:
        fh.write("stale\n")
    assert write_comparison_reports(catalogue, extracted, out) == names
    for n in names:
        files = sorted(f for f in os.listdir(os.path.join(out, n)) if not f.startswith("."))
        assert files == ["_SUCCESS", "part-00000.csv"], n


def test_gopher_attrition_funnel(spark, tmp_path):
    """Funnel invariants + an exact pandas recomputation over the sf0.01
    documents (verdict r4 #3: survivor funnel per rule)."""
    from pacasam_spark.operators.text import gopher_quality_flags
    from pacasam_spark.plans.stats import gopher_attrition, write_gopher_report

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    flags = gopher_quality_flags(docs)
    funnel = gopher_attrition(flags).orderBy("rule_idx").collect()
    pdf = flags.toPandas()
    total = len(pdf)

    rules = [r["rule"] for r in funnel]
    assert len(rules) == 7 and rules[0] == "ok_n_words"
    surviving = pdf
    for row in funnel:
        assert row["n_failed"] == int((~pdf[row["rule"]]).sum())
        surviving = surviving[surviving[row["rule"]]]
        assert row["n_survivors"] == len(surviving)
        assert abs(row["keep_rate"] - len(surviving) / total) < 1e-6
    # monotone funnel; final survivors == conjunction keep column
    ns = [r["n_survivors"] for r in funnel]
    assert ns == sorted(ns, reverse=True)
    assert ns[-1] == int(pdf["keep"].sum())

    name = write_gopher_report(flags, str(tmp_path / "stats"))
    out = spark.read.option("header", True).csv(str(tmp_path / "stats" / name))
    assert out.count() == 7
