"""Ingest pipelines: Excel/TSV with row-level validation frames
(SURVEY.md §2.1 S3-S6).

The reference validates ingest row-by-row in Python with per-row DB lookups
(``forms.py:115-179`` patients, ``forms.py:220-300`` samples — an N+1 per
row). Here validation is set-based: one errors DataFrame (row_idx, error)
per rule, one LEFT JOIN against patients for the match classification —
the shape that survives a 100 TB backfill.

xlsx parsing is self-contained: ``sources/xlsx.py`` implements the small
SpreadsheetML subset ingest needs (stdlib zipfile + ElementTree), so S3 runs
end-to-end on a real .xlsx file with no openpyxl in the image. All
validation logic takes DataFrames, so CSV or in-memory input exercises the
same path."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tantalus_spark.operators.mutations import local_rows

PATIENT_SHEET_COLS = ["external patient id", "reference id", "sa id", "case id"]
SAMPLE_SHEET_COLS = ["reference id", "suffix", "submitter", "researcher",
                     "tissue", "note", "projects", "external sample id"]


def read_excel_sheets(spark: SparkSession, filename: str,
                      required_cols: list[str]):
    """S3 (utils.py:6-24): load xlsx sheets, lowercase headers, yield the
    sheets containing the required columns as string-typed DataFrames
    (ingest IDs are strings; numeric cells stringify losslessly)."""
    from tantalus_spark.sources.xlsx import read_workbook

    for name, grid in read_workbook(filename):
        if not grid:
            continue
        header = [str(c).lower() if c is not None else "" for c in grid[0]]
        if not set(required_cols) <= set(header):
            continue
        rows = [
            tuple(None if v is None else _cell_str(v) for v in r)
            for r in grid[1:]
        ]
        schema = T.StructType([T.StructField(h, T.StringType())
                               for h in header])
        yield name, local_rows(spark, rows, schema)


def _cell_str(v) -> str:
    # integral floats ('7.0' cells) stringify like the int the author typed
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def with_row_idx(df: DataFrame, order_cols: list[str] | None = None) -> DataFrame:
    """Stable 1-based row index for error reporting (ingest batches are
    driver-sized; the single-partition window is deliberate)."""
    from pyspark.sql import Window as W

    w = W.orderBy(*(order_cols or df.columns))
    return df.withColumn("row_idx", F.row_number().over(w))


def validate_patients(rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """S4 (forms.py:115-179): per-row null checks + SA-prefix check.

    *rows* columns: external_patient_id, reference_id, sa_id, case_id,
    row_idx. Returns (valid_rows, errors) where errors = (row_idx, error).
    """
    checks = [
        (F.col("case_id").isNull(),
         "Case ID is required"),
        (F.col("reference_id").isNull(),
         "Reference ID is required"),
        (F.col("sa_id").isNotNull() & ~F.col("sa_id").startswith("SA"),
         "SA ID must start with 'SA'"),
    ]
    errors = None
    for cond, msg in checks:
        e = rows.filter(cond).select("row_idx", F.lit(msg).alias("error"))
        errors = e if errors is None else errors.unionByName(e)
    valid = rows
    for cond, _ in checks:
        valid = valid.filter(~F.coalesce(cond, F.lit(False)))
    return valid, errors


def classify_sample_rows(rows: DataFrame, patient: DataFrame) -> DataFrame:
    """S5 (forms.py:220-300): classify each ingest row by how many patients
    its Reference ID matches — 0 (error), 1 (auto-link), >1 (ambiguous).

    One LEFT JOIN + groupBy replaces the reference's per-row queries.
    Returns rows + (n_matches, matched_patient_id)."""
    p = patient.select(
        F.col("id").alias("matched_patient_id"),
        F.col("reference_id").alias("_ref"),
    ).filter(F.col("_ref").isNotNull())
    joined = rows.join(p, rows["reference_id"] == F.col("_ref"), "left")
    return (
        joined.groupBy(*[rows[c] for c in rows.columns])
        .agg(
            F.count("matched_patient_id").alias("n_matches"),
            F.min("matched_patient_id").alias("matched_patient_id"),
        )
        .withColumn(
            "match_class",
            F.when(F.col("n_matches") == 0, "none")
            .when(F.col("n_matches") == 1, "one")
            .otherwise("multiple"),
        )
        .withColumn(
            "matched_patient_id",
            F.when(F.col("n_matches") == 1, F.col("matched_patient_id")),
        )
    )


def validate_sample_projects(rows: DataFrame, project: DataFrame) -> DataFrame:
    """Unknown-project errors for comma-separated Projects cells
    (forms.py:262 split + per-name lookup)."""
    wanted = (
        rows.select("row_idx", F.explode(
            F.split(F.col("projects"), r"\s*,\s*")).alias("pname"))
        .filter(F.col("pname") != "")
    )
    known = project.select(F.col("name").alias("pname"))
    return (
        wanted.join(F.broadcast(known), "pname", "left_anti")
        .select("row_idx",
                F.format_string("Unknown project '%s'", F.col("pname"))
                .alias("error"))
    )


def parse_summary_file(spark: SparkSession, path: str,
                       line_no: int = 27) -> DataFrame:
    """S6 (utils.py:27-43): read line N of a GSC summary TSV, pick columns
    2 and 13 (1-based) as (library_id, sample_id)."""
    raw = spark.read.text(path)
    from pyspark.sql import Window as W

    w = W.orderBy(F.monotonically_increasing_id())
    line = (
        raw.withColumn("_ln", F.row_number().over(w))
        .filter(F.col("_ln") == line_no)
        .select(F.split(F.col("value"), "\t").alias("f"))
    )
    return line.select(
        F.element_at("f", 2).alias("library_id"),
        F.element_at("f", 13).alias("sample_id"),
    )


def export_csv_pandas(df: DataFrame) -> str:
    """S7/S8 CSV export: small result sets go through pandas for exact
    header/quoting control (the reference streams a csv.writer response,
    views.py:1594-1686); large exports use df.write.csv."""
    return df.toPandas().to_csv(index=False)
