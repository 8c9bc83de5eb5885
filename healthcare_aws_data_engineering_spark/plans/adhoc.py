"""Ad-hoc query surface + curated-table catalog (SURVEY §7.2 step 3).

Parity: ``AWS_Athena_queries.sql`` —
- database + 4 external-table DDL (:1-67) → ``CREATE TABLE ... USING PARQUET``
- ordered scan + time-range filter (:75-77; the reference text is
  syntactically broken — ``ORDER BY`` and ``;`` precede the ``WHERE`` — the
  intended query is repaired here)
- threshold probes (:79-93).

Canonical deviation: the encounter DDL column is ``class_code`` (matching
the ETL output), not the reference DDL's ``class`` — the reference mismatch
makes that column read NULL under name-based parquet resolution
(SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

CURATED_TABLES = ("patient", "observation", "condition", "encounter")

_DDL = {
    "patient": """
        patient_id string, gender string, birth_date string, race string,
        ethnicity string, address_line string, address_city string,
        address_state string, address_postal string, country string,
        geo_lat double, geo_lon double""",
    "observation": """
        observation_id string, status string, category string,
        code_system string, code string, code_display string,
        value_quantity double, value_unit string, value_string string,
        effective_datetime string, patient_id string, encounter_id string""",
    "condition": """
        condition_id string, code_system string, code string,
        code_display string, clinical_status string,
        verification_status string, onset_datetime string,
        recorded_datetime string, patient_id string, encounter_id string""",
    "encounter": """
        encounter_id string, status string, class_code string,
        type_text string, period_start string, period_end string,
        location_name string, service_provider string,
        practitioner_name string, practitioner_role string,
        patient_id string""",
}


def register_curated_tables(
    spark: SparkSession,
    curated_path: str,
    database: str = "healthcare_curated",
) -> None:
    """Declare the curated zone to the Spark catalog — the
    ``CREATE EXTERNAL TABLE ... STORED AS PARQUET LOCATION`` equivalent.
    Unmanaged (``USING PARQUET LOCATION``): dropping never deletes data."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name in CURATED_TABLES:
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {database}.{name} ({_DDL[name]}) "
            f"USING PARQUET LOCATION '{curated_path.rstrip('/')}/{name}'"
        )


def observations_in_range(
    spark: SparkSession,
    table: str = "observation",
    start: str = "2023-01-01T00:00:00-00:00",
    end: str = "2023-12-31T00:00:00-00:00",
) -> DataFrame:
    """The repaired :75-77 query: range-filter on the ISO-8601 string
    timestamp (lexicographic = chronological), then global sort."""
    return spark.sql(
        f"""SELECT * FROM {table}
            WHERE effective_datetime BETWEEN '{start}' AND '{end}'
            ORDER BY effective_datetime"""
    )


def threshold_count(
    spark: SparkSession,
    code_display: str,
    upper: float,
    table: str = "observation",
) -> DataFrame:
    """``count(value_quantity)`` under equality+range predicate (:79-80).
    Both predicates reach the parquet scan as pushed filters."""
    return spark.sql(
        f"""SELECT count(value_quantity) AS num_of_values FROM {table}
            WHERE code_display = '{code_display}' AND value_quantity < {upper}"""
    )


def threshold_values(
    spark: SparkSession,
    code_display: str,
    upper: float,
    table: str = "observation",
) -> DataFrame:
    """Value probes under the same predicate (:82-93)."""
    return spark.sql(
        f"""SELECT value_quantity FROM {table}
            WHERE code_display = '{code_display}' AND value_quantity < {upper}"""
    )
