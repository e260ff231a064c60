"""Comparer stats (SURVEY.md §2.5 A6-A8; reference: analysis/stats.py).

The reference writes its comparison CSVs from driver-side pandas. They
hold a few dozen numbers, so here every number of the six reports comes
from TWO aggregations and the driver writes the files:

- one ``agg`` over the catalogue for the base values: every boolean
  descriptor's prevalence, the area sum and the row count;
- one ``cube(sampler, split)`` over the sampling rows with the same
  aggregates, ``grouping_id()`` and each ratio to its base value. The
  base values go in as literals, so the ratio keeps Spark's HALF_UP
  ``round``. That one result holds the overall, per-sampler and
  per-split values; the reference's "only if >1 distinct value" gate
  (stats.py:36) is the number of groups under that key's grouping id.

The reshaped rows are written as single-file CSV directories through the
session's Hadoop FileSystem, so any URI Spark could write still works,
without a Spark write job (and its commit protocol) per report.
``compare_bools``, ``compare_sizes`` and ``compare_by_key`` return the
same rows as small DataFrames.
"""

from __future__ import annotations

import csv
import io
import math
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SURFACE_OF_A_KM2 = 1000 * 1000
REPORT_KEYS = ("sampler", "split")

_BOOLS = "comparison-bool_descriptors"
_AREAS = "comparison-areas"


def _bool_cols(df: DataFrame) -> list[str]:
    """Boolean descriptors, excluding the tri-state `test` split flag BY
    NAME — in the reference it is float/object dtype because of NaN, so
    select_dtypes(include=bool) never picks it up (stats.py:66). A
    nullability test is NOT a usable proxy: any parquet/DDL round-trip
    (file connectors, the bucketed table) makes every column nullable,
    which silently emptied the descriptor list for file-based
    catalogues."""
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.BooleanType) and f.name != "test"
    ]


def _area_col() -> F.Column:
    return (
        (F.col("geom_xmax") - F.col("geom_xmin"))
        * (F.col("geom_ymax") - F.col("geom_ymin"))
        / SURFACE_OF_A_KM2
    )


def _metric_aggs(cols: list[str]) -> list[F.Column]:
    """Bool prevalences (A6), then total area in km^2 and patch count
    (A7), in the order of ``cols + ["area_km2", "num_patches"]``."""
    return [F.avg(F.col(c).cast("double")) for c in cols] + [
        F.sum(_area_col()),
        F.count("*"),
    ]


def _aggregate(
    db: DataFrame, sampling: DataFrame, keys: tuple[str, ...]
) -> tuple[list[str], dict, dict]:
    """The two aggregations behind every report. Returns ``(cols, base,
    groups)``: ``cols`` the bool descriptors, ``base`` metric -> catalogue
    value, and ``groups`` mapping None to the overall sampling values and
    each key to its ``[(key value, values), ...]``, where ``values`` maps
    metric -> (sampling value, ratio). A ratio is null where the base is 0
    (try_divide), as the reference's pandas division gives NaN."""
    cols = _bool_cols(db)
    metrics = cols + ["area_km2", "num_patches"]
    base = dict(zip(metrics, db.agg(*_metric_aggs(cols)).collect()[0]))

    aggs = _metric_aggs(cols)
    ratios = [
        F.round(F.try_divide(a, F.lit(base[m]).cast("double")), 2)
        for a, m in zip(aggs, metrics)
    ]
    grouped = sampling.cube(*keys) if keys else sampling.groupBy()
    rows = grouped.agg(
        (F.grouping_id() if keys else F.lit(0)).alias("_gid"),
        *[a.alias(f"_v{i}") for i, a in enumerate(aggs)],
        *[r.alias(f"_r{i}") for i, r in enumerate(ratios)],
    ).collect()

    # grouping_id has one bit per key, the first key highest; a bit is
    # set when that key is rolled up
    everything = (1 << len(keys)) - 1
    alone = {everything ^ (1 << (len(keys) - 1 - i)): k for i, k in enumerate(keys)}
    groups: dict = {k: [] for k in keys}
    for r in rows:
        values = {m: (r[f"_v{i}"], r[f"_r{i}"]) for i, m in enumerate(metrics)}
        if r["_gid"] == everything:
            groups[None] = values
        elif r["_gid"] in alone:
            key = alone[r["_gid"]]
            groups[key].append((r[key], values))
    if None not in groups:  # grouping sets yield no rows for empty input
        groups[None] = {m: (None, None) for m in metrics}
        groups[None]["num_patches"] = (0, 0.0 if base["num_patches"] else None)
    for k in keys:
        groups[k].sort(key=lambda kv: (kv[0] is not None, kv[0]))
    return cols, base, groups


def _reports(
    db: DataFrame, sampling: DataFrame, keys: tuple[str, ...]
) -> dict[str, tuple[T.StructType, list[tuple]]]:
    """Every report of ``keys`` as (schema, rows), in writing order; a key
    with <= 1 distinct value has no reports (stats.py:36 gate)."""
    cols, base, groups = _aggregate(db, sampling, keys)
    overall = groups[None]

    def comparison_fields(name: str) -> list[T.StructField]:
        return [
            T.StructField(name, T.StringType()),
            T.StructField("df_database", T.DoubleType()),
            T.StructField("df_sampling", T.DoubleType()),
            T.StructField("ratio", T.DoubleType()),
        ]

    def as_double(v):
        return None if v is None else float(v)

    out = {
        _BOOLS: (
            T.StructType(comparison_fields("descriptor")),
            [(c, base[c], *overall[c]) for c in cols],
        ),
        _AREAS: (
            T.StructType(comparison_fields("metric")),
            [
                (m, as_double(base[m]), as_double(overall[m][0]), overall[m][1])
                for m in ("area_km2", "num_patches")
            ],
        ),
    }
    for key in keys:
        if len(groups[key]) <= 1:
            continue
        key_field = T.StructField(key, sampling.schema[key].dataType)
        desc, *rest = comparison_fields("descriptor")
        out[f"{_BOOLS}-by_{key}"] = (
            T.StructType([desc, key_field, *rest]),
            [(c, v, base[c], *vals[c]) for v, vals in groups[key] for c in cols],
        )
        out[f"comparison-sizes-by_{key}"] = (
            T.StructType(
                [
                    key_field,
                    T.StructField("area_km2", T.DoubleType()),
                    T.StructField("num_patches", T.LongType()),
                ]
            ),
            [(v, vals["area_km2"][0], vals["num_patches"][0]) for v, vals in groups[key]],
        )
    return out


def _view(sampling: DataFrame, report: tuple[T.StructType, list[tuple]]) -> DataFrame:
    schema, rows = report
    return sampling.sparkSession.createDataFrame(rows, schema)


def compare_bools(db: DataFrame, sampling: DataFrame) -> DataFrame:
    """Prevalence of every boolean descriptor in db vs sampling + ratio
    (reference: stats.py:52-81). `sampling` must carry the descriptor
    columns (post-extraction join)."""
    return _view(sampling, _reports(db, sampling, ())[_BOOLS])


def compare_sizes(db: DataFrame, sampling: DataFrame) -> DataFrame:
    """Total area (km^2) + patch counts (reference: stats.py:83-94)."""
    return _view(sampling, _reports(db, sampling, ())[_AREAS])


def compare_by_key(
    db: DataFrame, sampling: DataFrame, key: str
) -> DataFrame | None:
    """Per-key prevalence comparison (reference: stats.py:96-107). Returns
    None when the key has <= 1 distinct value (stats.py:36 gate)."""
    report = _reports(db, sampling, (key,)).get(f"{_BOOLS}-by_{key}")
    return None if report is None else _view(sampling, report)


def _csv_text(v) -> str:
    """A collected value as Spark's CSV writer prints it: null as an
    empty field, booleans lower-case, doubles as Java's Double.toString
    (plain for 1e-3 <= |v| < 1e7, else ``d.dddE<n>``)."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if not isinstance(v, float):
        return str(v)
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    if v == 0 or 1e-3 <= abs(v) < 1e7:
        return repr(v)  # Python's repr is plain in this range too
    sign, digits, exp = Decimal(repr(v)).normalize().as_tuple()
    frac = "".join(map(str, digits[1:])) or "0"
    return f"{'-' if sign else ''}{digits[0]}.{frac}E{len(digits) - 1 + exp}"


def _write_csv_dir(
    spark: SparkSession, path: str, schema: T.StructType, rows: list[tuple]
) -> None:
    """One report as a single-file CSV directory, written from the driver
    through the session's Hadoop FileSystem: ``part-00000.csv`` (via a
    hidden temp file and a rename), then ``_SUCCESS``. An existing
    directory is replaced first, as mode("overwrite") does."""
    buf = io.StringIO()
    out = csv.writer(buf, lineterminator="\n", escapechar="\\", doublequote=False)
    out.writerow(schema.names)
    out.writerows([_csv_text(v) for v in row] for row in rows)

    jvm = spark.sparkContext._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    target = Path(path)
    fs = target.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(target):
        fs.delete(target, True)
    tmp, part = Path(target, "_part-00000.csv.tmp"), Path(target, "part-00000.csv")
    stream = fs.create(tmp, True)
    try:
        stream.write(buf.getvalue().encode("utf-8"))
    finally:
        stream.close()
    if not fs.rename(tmp, part):
        raise OSError(f"could not rename {tmp} to {part}")
    fs.create(Path(target, "_SUCCESS"), True).close()


def write_comparison_reports(
    db: DataFrame, sampling_extracted: DataFrame, out_dir: str
) -> list[str]:
    """The six comparison CSVs (K2; reference: stats.py:23-50) as
    single-file CSV directories under ``out_dir``; returns the names
    written. The by-key pair of a key with <= 1 distinct value is
    skipped."""
    reports = _reports(db, sampling_extracted, REPORT_KEYS)
    spark = sampling_extracted.sparkSession
    for name, (schema, rows) in reports.items():
        _write_csv_dir(spark, f"{out_dir}/{name}", schema, rows)
    return list(reports)


def gopher_attrition(flags: DataFrame, rules: list[str] | None = None) -> DataFrame:
    """Per-rule survivor funnel over a quality-flags table (the output of
    operators/text.gopher_quality_flags): for each rule, how many docs
    fail it on its own, and how many survive the rules applied so far in
    order — what corpus curation reads to see which filter costs the
    most data (the same attrition view samplers/base.py logs per stage).

    ONE aggregation over one scan: every count is a sum of a cast flag
    conjunction, so the plan is a partial-agg + single-row exchange no
    matter the corpus size — nothing here grows with N. Output, one row
    per rule in application order:

        (rule_idx, rule, n_failed, n_survivors, keep_rate)

    where n_failed counts docs failing THAT rule independently,
    n_survivors counts docs passing rules[0..i] cumulatively, and
    keep_rate = n_survivors / total. Reference: pacasam logs only a
    global per-stage attrition (samplers/sampler.py:67-74); the per-rule
    funnel is the corpus-curation extension of it."""
    if rules is None:
        rules = [
            f.name
            for f in flags.schema.fields
            if f.name.startswith("ok_") and isinstance(f.dataType, T.BooleanType)
        ]
    if not rules:
        raise ValueError("no boolean ok_* rule columns found")
    aggs = [F.count("*").alias("_total")]
    cum = None
    for r in rules:
        cum = F.col(r) if cum is None else cum & F.col(r)
        aggs.append(F.sum((~F.col(r)).cast("long")).alias(f"_fail_{r}"))
        aggs.append(F.sum(cum.cast("long")).alias(f"_surv_{r}"))
    one = flags.agg(*aggs)
    stack = ", ".join(
        f"{i}, '{r}', _fail_{r}, _surv_{r}" for i, r in enumerate(rules)
    )
    return one.selectExpr(
        f"stack({len(rules)}, {stack}) as "
        "(rule_idx, rule, n_failed, n_survivors)",
        "_total",
    ).select(
        "rule_idx",
        "rule",
        "n_failed",
        "n_survivors",
        F.round(F.col("n_survivors") / F.col("_total"), 6).alias("keep_rate"),
    )


def write_gopher_report(
    flags: DataFrame, out_dir: str, rules: list[str] | None = None
) -> str:
    """The attrition funnel as a single-file CSV directory, same shape
    as write_comparison_reports' outputs."""
    name = "gopher-attrition"
    funnel = gopher_attrition(flags, rules)
    rows = [tuple(r) for r in funnel.collect()]
    _write_csv_dir(flags.sparkSession, f"{out_dir}/{name}", funnel.schema, rows)
    return name
