"""Driver-facing FHIR-ETL queries (SURVEY §2 S1/S5, P1–P5, F1–F6).

The ingest layer (bundle explode + schema-adaptive extraction,
``Glue_tranformation_json_parquet.py:24-184`` parity) previously rested
on pytest fixtures alone. These queries drive it through the hard
correctness gate: FHIR bundles are SYNTHESIZED deterministically in-plan
from the driver's ``events``/``customer`` tables as JSON *text*, parsed
with ``from_json`` (explicit schema — the production stance for a 100 TB
raw zone: infer once, freeze, reuse; see sources/fhir.read_bundles), then
run through the REAL ``explode_entries`` + ``extract_observations`` /
``extract_patients`` operators. The DuckDB oracle computes the expected
curated rows DIRECTLY from the base tables — so a wrong turn anywhere in
the JSON building, parsing, explode, safe_path ladders, ref_to_uuid,
choice_double, or value[x] coalesce shows up as a value-hash mismatch.

Branch coverage by construction:

- ``category`` array-of-CC with array coding  → cc_attr array/array leg;
- ``code`` struct-CC with array coding + text → cc_attr struct/array leg;
- ``valueQuantity.value`` carried as JSON STRING → choice_double's
  try_cast fallback (the reference's :146 leg);
- ``valueString`` present on event_id % 3 == 0 rows only → the value[x]
  ladder exercises both its first leg and the valueDateTime fallback;
- ``subject``/``encounter`` references in ``urn:uuid:...`` form → F1;
- patient geo decimals ride extension[0].extension[i].valueDecimal
  (safe_path with double array indexing), race/ethnicity ride
  extension[i].extension[1].valueString, address.line is an array →
  guarded_array_join.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.etl import (
    extract_conditions,
    extract_encounters,
    extract_observations,
    extract_patients,
)
from ..sources.fhir import explode_entries
from ..sources.tables import load_table

# Explicit bundle schema (union of the Patient and Observation resource
# shapes below, as spark.read.json would infer across resource types).
BUNDLE_DDL = """
struct<
  resourceType: string,
  entry: array<struct<resource: struct<
    resourceType: string,
    id: string,
    status: string,
    gender: string,
    birthDate: string,
    subject: struct<reference: string>,
    encounter: struct<reference: string>,
    category: array<struct<coding: array<struct<display: string>>>>,
    code: struct<
      coding: array<struct<system: string, code: string, display: string>>,
      text: string
    >,
    valueQuantity: struct<value: string, unit: string>,
    valueString: string,
    valueDateTime: string,
    effectiveDateTime: string,
    address: array<struct<
      line: array<string>,
      city: string, state: string, postalCode: string, country: string,
      extension: array<struct<extension: array<struct<valueDecimal: string>>>>
    >>,
    extension: array<struct<extension: array<struct<
      url: string, valueString: string
    >>>>
  >>>
>
"""

_ISO = "yyyy-MM-dd'T'HH:mm:ss"


def _s(c) -> F.Column:
    return c.cast("string")


def _observation_entry_json() -> F.Column:
    """JSON text of one Observation entry, from an events row."""
    iso = F.date_format("ts", _ISO)
    value_leg = F.when(
        F.col("event_id") % 3 == 0,
        F.concat(F.lit(',"valueString":"note-'), _s(F.col("event_id") % 10), F.lit('"')),
    ).otherwise(F.lit(""))
    return F.concat(
        F.lit('{"resource":{"resourceType":"Observation","id":"obs-'),
        _s(F.col("event_id")),
        F.lit('","status":"final","subject":{"reference":"urn:uuid:patient-'),
        _s(F.col("user_id")),
        F.lit('"},"encounter":{"reference":"urn:uuid:enc-'),
        _s(F.col("user_id")),
        F.lit("-"),
        _s(F.col("event_id") % 5),
        F.lit('"},"category":[{"coding":[{"display":"vital-signs"}]}]'),
        F.lit(',"code":{"coding":[{"system":"http://loinc.org","code":"'),
        F.col("event_type"),
        F.lit('","display":"Lab '),
        F.col("event_type"),
        F.lit('"}],"text":"'),
        F.col("event_type"),
        F.lit(' panel"},"valueQuantity":{"value":"'),
        _s(F.col("value").cast("decimal(18,6)")),
        F.lit('","unit":"mg/dL"}'),
        value_leg,
        F.lit(',"valueDateTime":"'),
        iso,
        F.lit('","effectiveDateTime":"'),
        iso,
        F.lit('"}}'),
    )


def _patient_entry_json() -> F.Column:
    """JSON text of one Patient entry, from a customer row."""
    k = F.col("c_custkey")
    return F.concat(
        F.lit('{"resource":{"resourceType":"Patient","id":"patient-'),
        _s(k),
        F.lit('","gender":"'),
        F.when(k % 2 == 0, F.lit("female")).otherwise(F.lit("male")),
        F.lit('","birthDate":"'),
        _s(F.lit(1950) + k % 50),
        F.lit('-01-01","address":[{"line":["'),
        _s(k),
        F.lit(' Main St","Apt '),
        _s(k % 7),
        F.lit('"],"city":"city'),
        _s(k % 10),
        F.lit('","state":"st'),
        _s(k % 5),
        F.lit('","postalCode":"'),
        _s(F.lit(10000) + k % 89999),
        F.lit('","country":"US","extension":[{"extension":[{"valueDecimal":"'),
        _s((k % 180 - 90).cast("decimal(18,6)") + 0.5),
        F.lit('"},{"valueDecimal":"'),
        _s((k % 360 - 180).cast("decimal(18,6)") + 0.25),
        F.lit('"}]}]}],"extension":['),
        F.lit('{"extension":[{"url":"ombCategory"},{"valueString":"race'),
        _s(k % 6),
        F.lit('"}]},{"extension":[{"url":"ombCategory"},{"valueString":"eth'),
        _s(k % 4),
        F.lit('"}]}]}}'),
    )


def synth_bundles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Bundle per user: the user's Patient resource + all their
    Observation entries, built as JSON text and parsed with the frozen
    schema (P1's input shape)."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    obs = events.select(
        F.col("user_id").alias("k"), _observation_entry_json().alias("entry")
    )
    pat = customer.select(
        F.col("c_custkey").alias("k"), _patient_entry_json().alias("entry")
    )
    per_user = (
        obs.unionByName(pat)
        .groupBy("k")
        .agg(F.array_join(F.sort_array(F.collect_list("entry")), ",").alias("es"))
    )
    bundle_json = F.concat(
        F.lit('{"resourceType":"Bundle","entry":['), F.col("es"), F.lit("]}")
    )
    return per_user.select(
        F.from_json(bundle_json, BUNDLE_DDL).alias("b")
    ).select("b.*")


def q_etl_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/P1/P3/F1–F5 end-to-end: synthesized bundles → explode_outer →
    schema-adaptive Observation extraction (deterministic dedup)."""
    entries = explode_entries(synth_bundles(spark, sf_dir))
    return extract_observations(entries, deterministic_dedup=True)


def q_etl_patients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/P1/P2/P4/F6 end-to-end: synthesized bundles → explode_outer →
    Patient extraction (nested safe_path geo/race paths, guarded
    array_join of address lines)."""
    entries = explode_entries(synth_bundles(spark, sf_dir))
    return extract_patients(entries, deterministic_dedup=True)


# The oracle computes the SAME curated rows directly from the base
# tables — no JSON involved, so the whole Spark-side JSON round trip is
# what gets checked.
_ETL_OBSERVATIONS_SQL = """
SELECT
  'obs-' || CAST(event_id AS VARCHAR) AS observation_id,
  'final' AS status,
  'vital-signs' AS category,
  'http://loinc.org' AS code_system,
  event_type AS code,
  'Lab ' || event_type AS code_display,
  CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value_quantity,
  'mg/dL' AS value_unit,
  CASE WHEN event_id % 3 = 0 THEN 'note-' || CAST(event_id % 10 AS VARCHAR)
       ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S') END AS value_string,
  strftime(ts, '%Y-%m-%dT%H:%M:%S') AS effective_datetime,
  'patient-' || CAST(user_id AS VARCHAR) AS patient_id,
  'enc-' || CAST(user_id AS VARCHAR) || '-' || CAST(event_id % 5 AS VARCHAR)
    AS encounter_id
FROM events
"""

_ETL_PATIENTS_SQL = """
SELECT
  'patient-' || CAST(c_custkey AS VARCHAR) AS patient_id,
  CASE WHEN c_custkey % 2 = 0 THEN 'female' ELSE 'male' END AS gender,
  CAST(1950 + c_custkey % 50 AS VARCHAR) || '-01-01' AS birth_date,
  'city' || CAST(c_custkey % 10 AS VARCHAR) AS address_city,
  'st' || CAST(c_custkey % 5 AS VARCHAR) AS address_state,
  CAST(10000 + c_custkey % 89999 AS VARCHAR) AS address_postal,
  'US' AS country,
  CAST(c_custkey % 180 - 90 AS DOUBLE) + 0.5 AS geo_lat,
  CAST(c_custkey % 360 - 180 AS DOUBLE) + 0.25 AS geo_lon,
  'race' || CAST(c_custkey % 6 AS VARCHAR) AS race,
  'eth' || CAST(c_custkey % 4 AS VARCHAR) AS ethnicity,
  CAST(c_custkey AS VARCHAR) || ' Main St|Apt ' || CAST(c_custkey % 7 AS VARCHAR)
    AS address_line
FROM customer
"""

# ---------------------------------------------------------------------------
# Encounter + Condition leg (from orders): covers the extraction branches
# the patient/observation bundles cannot — the mixed-shape JSON-string
# probing path (location/participant arrays rendered via to_json +
# get_json_object ladders, reference jget :28-31) and cc_attr's
# struct-coding branch (clinicalStatus.coding as a STRUCT, not array).

ENC_BUNDLE_DDL = """
struct<
  resourceType: string,
  entry: array<struct<resource: struct<
    resourceType: string,
    id: string,
    status: string,
    subject: struct<reference: string>,
    encounter: struct<reference: string>,
    class: struct<code: string>,
    type: array<struct<text: string>>,
    period: struct<start: string, `end`: string>,
    location: array<struct<location: struct<display: string>>>,
    serviceProvider: struct<display: string>,
    participant: array<struct<
      individual: struct<display: string>,
      type: array<struct<text: string>>
    >>,
    code: struct<coding: array<struct<system: string, code: string, display: string>>>,
    clinicalStatus: struct<coding: struct<code: string>>,
    verificationStatus: struct<coding: struct<code: string>>,
    onsetDateTime: string,
    recordedDate: string
  >>>
>
"""


def _encounter_entry_json() -> F.Column:
    ok, ck = F.col("o_orderkey"), F.col("o_custkey")
    iso = F.date_format("o_orderdate", _ISO)
    status = (
        F.when(F.col("o_orderstatus") == "O", F.lit("in-progress"))
        .when(F.col("o_orderstatus") == "F", F.lit("finished"))
        .otherwise(F.lit("planned"))
    )
    return F.concat(
        F.lit('{"resource":{"resourceType":"Encounter","id":"enc-'),
        _s(ok),
        F.lit('","subject":{"reference":"urn:uuid:patient-'),
        _s(ck),
        F.lit('"},"status":"'),
        status,
        F.lit('","class":{"code":"'),
        F.expr("lower(substr(o_orderpriority, 3))"),
        F.lit('"},"type":[{"text":"'),
        F.col("o_orderpriority"),
        F.lit(' visit"}],"period":{"start":"'),
        iso,
        F.lit('","end":"'),
        iso,
        F.lit('"},"location":[{"location":{"display":"ward-'),
        _s(ok % 20),
        F.lit('"}}],"serviceProvider":{"display":"clinic-'),
        _s(ck % 10),
        F.lit('"},"participant":[{"individual":{"display":"Dr '),
        _s(ok % 50),
        F.lit('"},"type":[{"text":"attender"}]}]}}'),
    )


def _condition_entry_json() -> F.Column:
    ok, ck = F.col("o_orderkey"), F.col("o_custkey")
    iso = F.date_format("o_orderdate", _ISO)
    return F.concat(
        F.lit('{"resource":{"resourceType":"Condition","id":"cond-'),
        _s(ok),
        F.lit('","subject":{"reference":"urn:uuid:patient-'),
        _s(ck),
        F.lit('"},"encounter":{"reference":"urn:uuid:enc-'),
        _s(ok),
        F.lit('"},"code":{"coding":[{"system":"http://snomed.info/sct","code":"C'),
        _s(ok % 97),
        F.lit('","display":"Condition '),
        _s(ok % 97),
        F.lit('"}]},"clinicalStatus":{"coding":{"code":"active"}}'),
        F.lit(',"verificationStatus":{"coding":{"code":"confirmed"}}'),
        F.lit(',"onsetDateTime":"'),
        iso,
        F.lit('","recordedDate":"'),
        iso,
        F.lit('"}}'),
    )


def synth_order_bundles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Bundle per order: its Encounter + its Condition (mixed-type
    entries again, so the resource-type fan-out filters do real work).

    Deterministic 1-in-10 order sample (o_orderkey % 10 = 0): these
    queries exist to value-check the EXTRACTION branches — including the
    intentionally expensive reference-parity jget probing (to_json +
    four get_json_object parses per row) — not to bench raw scan
    throughput, which the rest of the suite covers."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    )
    bundle_json = F.concat(
        F.lit('{"resourceType":"Bundle","entry":['),
        _encounter_entry_json(),
        F.lit(","),
        _condition_entry_json(),
        F.lit("]}"),
    )
    return orders.select(
        F.from_json(bundle_json, ENC_BUNDLE_DDL).alias("b")
    ).select("b.*")


def q_etl_encounters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encounter extraction end-to-end, including the reference's jget
    path-probing leg: location/participant are typed ARRAYS in the
    schema, so the extractor renders them with to_json and probes
    ``$[0].location.display`` / ``$[0].individual.display`` /
    ``$[0].type[0].text`` ladders per row (reference :28-31, :95-117)."""
    entries = explode_entries(synth_order_bundles(spark, sf_dir))
    return extract_encounters(entries, deterministic_dedup=True)


def q_etl_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condition extraction end-to-end: array-coding code CC plus
    STRUCT-coding clinicalStatus/verificationStatus (cc_attr's
    struct/struct branch), double urn:uuid reference strip."""
    entries = explode_entries(synth_order_bundles(spark, sf_dir))
    return extract_conditions(entries, deterministic_dedup=True)


_ETL_ENCOUNTERS_SQL = """
SELECT
  'enc-' || CAST(o_orderkey AS VARCHAR) AS encounter_id,
  CASE WHEN o_orderstatus = 'O' THEN 'in-progress'
       WHEN o_orderstatus = 'F' THEN 'finished'
       ELSE 'planned' END AS status,
  lower(substr(o_orderpriority, 3)) AS class_code,
  o_orderpriority || ' visit' AS type_text,
  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS period_start,
  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS period_end,
  'ward-' || CAST(o_orderkey % 20 AS VARCHAR) AS location_name,
  'clinic-' || CAST(o_custkey % 10 AS VARCHAR) AS service_provider,
  'Dr ' || CAST(o_orderkey % 50 AS VARCHAR) AS practitioner_name,
  'attender' AS practitioner_role,
  'patient-' || CAST(o_custkey AS VARCHAR) AS patient_id
FROM orders WHERE o_orderkey % 10 = 0
"""

_ETL_CONDITIONS_SQL = """
SELECT
  'cond-' || CAST(o_orderkey AS VARCHAR) AS condition_id,
  'http://snomed.info/sct' AS code_system,
  'C' || CAST(o_orderkey % 97 AS VARCHAR) AS code,
  'Condition ' || CAST(o_orderkey % 97 AS VARCHAR) AS code_display,
  'active' AS clinical_status,
  'confirmed' AS verification_status,
  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS onset_datetime,
  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS recorded_datetime,
  'patient-' || CAST(o_custkey AS VARCHAR) AS patient_id,
  'enc-' || CAST(o_orderkey AS VARCHAR) AS encounter_id
FROM orders WHERE o_orderkey % 10 = 0
"""

# ---------------------------------------------------------------------------
# Glue choice-struct leg: the reference's DynamicFrame writes
# ``valueQuantity.value`` as a genuine ``{double, int}`` union struct
# (Glue_tranformation_json_parquet.py:141-147). The from_json path above
# normalizes that away (spark.read.json widens mixed numerics), so this
# query materializes the struct THROUGH A PARQUET ROUND TRIP — exactly
# the shape a Glue-written curated-zone file hands a downstream reader —
# and runs it through the real ``extract_observations``, exercising
# choice_double's StructType coalesce branch (fhir_extract.py) under the
# driver's value hash instead of unit tests alone.


def _choice_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entries-shaped frame (one ``resource`` struct per events row) with
    the Glue choice struct: even event_ids carry the ``int`` leg
    (event_id % 97), odd event_ids the ``double`` leg (raw ``value`` —
    bit-identical in both engines since DuckDB reads the same parquet;
    NULL values stay NULL through the coalesce)."""
    events = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    even = eid % 2 == 0
    iso = F.date_format("ts", _ISO)
    resource = F.struct(
        F.lit("Observation").alias("resourceType"),
        F.concat(F.lit("obs-"), _s(eid)).alias("id"),
        F.lit("final").alias("status"),
        F.struct(
            F.concat(F.lit("urn:uuid:patient-"), _s(F.col("user_id"))).alias(
                "reference"
            )
        ).alias("subject"),
        F.struct(
            F.concat(
                F.lit("urn:uuid:enc-"), _s(F.col("user_id")), F.lit("-"), _s(eid % 5)
            ).alias("reference")
        ).alias("encounter"),
        F.array(
            F.struct(
                F.array(F.struct(F.lit("laboratory").alias("display"))).alias(
                    "coding"
                )
            )
        ).alias("category"),
        F.struct(
            F.array(
                F.struct(
                    F.lit("http://loinc.org").alias("system"),
                    F.col("event_type").alias("code"),
                    F.concat(F.lit("Lab "), F.col("event_type")).alias("display"),
                )
            ).alias("coding"),
            F.concat(F.col("event_type"), F.lit(" panel")).alias("text"),
        ).alias("code"),
        F.struct(
            F.struct(
                F.when(~even, F.col("value")).alias("double"),
                F.when(even, (eid % 97).cast("long")).alias("int"),
            ).alias("value"),
            F.lit("mg/dL").alias("unit"),
        ).alias("valueQuantity"),
        iso.alias("effectiveDateTime"),
    )
    return events.select(resource.alias("resource"))


_CHOICE_WRITTEN: set[str] = set()


def q_etl_obs_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+F4 driver leg: choice-struct entries → parquet (the Glue-written
    curated shape) → parquet scan → ``extract_observations``. The fixture
    is deterministic in the events table, so it is written once per
    process (bench's warm-up + timed runs share it); a fresh process
    always rewrites. The fixture path is keyed on the absolute ``sf_dir``,
    so two data directories with the same base name never share it."""
    import hashlib
    import os

    key = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:16]
    path = f"/tmp/hsp_fixtures/glue_choice_obs_{key}.parquet"
    if path not in _CHOICE_WRITTEN:
        _choice_entries(spark, sf_dir).write.mode("overwrite").parquet(path)
        _CHOICE_WRITTEN.add(path)
    entries = spark.read.parquet(path)
    return extract_observations(entries, deterministic_dedup=True)


_ETL_OBS_CHOICE_SQL = """
SELECT
  'obs-' || CAST(event_id AS VARCHAR) AS observation_id,
  'final' AS status,
  'laboratory' AS category,
  'http://loinc.org' AS code_system,
  event_type AS code,
  'Lab ' || event_type AS code_display,
  CASE WHEN event_id % 2 = 0 THEN CAST(event_id % 97 AS DOUBLE)
       ELSE value END AS value_quantity,
  'mg/dL' AS value_unit,
  CAST(NULL AS VARCHAR) AS value_string,
  strftime(ts, '%Y-%m-%dT%H:%M:%S') AS effective_datetime,
  'patient-' || CAST(user_id AS VARCHAR) AS patient_id,
  'enc-' || CAST(user_id AS VARCHAR) || '-' || CAST(event_id % 5 AS VARCHAR)
    AS encounter_id
FROM events
"""


ETL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "etl_observations": q_etl_observations,
    "etl_patients": q_etl_patients,
    "etl_encounters": q_etl_encounters,
    "etl_conditions": q_etl_conditions,
    "etl_obs_choice": q_etl_obs_choice,
}

ETL_ORACLE: dict[str, str] = {
    "etl_observations": _ETL_OBSERVATIONS_SQL,
    "etl_patients": _ETL_PATIENTS_SQL,
    "etl_encounters": _ETL_ENCOUNTERS_SQL,
    "etl_conditions": _ETL_CONDITIONS_SQL,
    "etl_obs_choice": _ETL_OBS_CHOICE_SQL,
}
