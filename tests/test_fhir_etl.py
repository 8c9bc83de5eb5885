"""FHIR ETL golden-bundle fixtures (FIXTURES.md §1; SURVEY §5 consequence).

Covers every extraction path of the reference transformation
(Glue_tranformation_json_parquet.py:60-184): choice-typed valueQuantity,
all ten value[x] variants, array-or-single CodeableConcept shapes,
duplicate ids for dedup, and urn:uuid reference keys.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from healthcare_aws_data_engineering_spark.plans.etl import (
    TABLES,
    extract_conditions,
    extract_encounters,
    extract_observations,
    extract_patients,
    fhir_etl,
    write_curated,
)
from healthcare_aws_data_engineering_spark.plans.etl_queries import q_etl_obs_choice
from healthcare_aws_data_engineering_spark.sources.fhir import (
    explode_entries,
    read_bundle_string,
    read_bundles,
)
from healthcare_aws_data_engineering_spark.sources.writers import write_parquet

PATIENT = {
    "resourceType": "Patient",
    "id": "pat-1",
    "gender": "female",
    "birthDate": "1980-05-17",
    "address": [
        {
            "line": ["12 Main St", "Unit 4"],
            "city": "Springfield",
            "state": "MA",
            "postalCode": "01101",
            "country": "US",
            "extension": [
                {
                    "extension": [
                        {"url": "latitude", "valueDecimal": 42.1},
                        {"url": "longitude", "valueDecimal": -72.59},
                    ]
                }
            ],
        }
    ],
    "extension": [
        {"extension": [{"url": "ombCategory"}, {"url": "text", "valueString": "white"}]},
        {"extension": [{"url": "ombCategory"}, {"url": "text", "valueString": "nonhispanic"}]},
    ],
}

ENCOUNTER = {
    "resourceType": "Encounter",
    "id": "enc-1",
    "status": "finished",
    "class": {"code": "AMB"},
    "type": [{"coding": [{"display": "well child visit"}], "text": "Well child visit"}],
    "subject": {"reference": "urn:uuid:pat-1"},
    "period": {"start": "2023-02-03T09:00:00-05:00", "end": "2023-02-03T09:30:00-05:00"},
    "location": [{"location": {"display": "SPRINGFIELD CLINIC"}}],
    "serviceProvider": {"display": "SPRINGFIELD HOSPITAL"},
    "participant": [
        {
            "type": [{"text": "primary performer"}],
            "individual": {"display": "Dr. Quinn"},
        }
    ],
}

CONDITION_ARRAY_CC = {
    "resourceType": "Condition",
    "id": "con-1",
    "subject": {"reference": "urn:uuid:pat-1"},
    "encounter": {"reference": "urn:uuid:enc-1"},
    # array-of-CC shape: exercises the $[0].coding[0] ladder leg
    "code": [
        {
            "coding": [
                {"system": "http://snomed.info/sct", "code": "44054006", "display": "Diabetes"}
            ],
            "text": "Diabetes mellitus",
        }
    ],
    "clinicalStatus": {"coding": [{"code": "active"}]},
    "verificationStatus": {"coding": [{"code": "confirmed"}]},
    "onsetDateTime": "2020-01-01T00:00:00-00:00",
    "recordedDate": "2020-01-02T00:00:00-00:00",
}

CONDITION_SINGLE_CC = {
    "resourceType": "Condition",
    "id": "con-2",
    "subject": {"reference": "urn:uuid:pat-1"},
    "code": {
        "coding": [{"system": "http://snomed.info/sct", "code": "38341003", "display": "Hypertension"}]
    },
    "clinicalStatus": {"coding": [{"code": "active"}]},
}


def _obs(oid, **value):
    base = {
        "resourceType": "Observation",
        "id": oid,
        "status": "final",
        "category": [{"coding": [{"display": "Laboratory"}]}],
        "code": {
            "coding": [
                {"system": "http://loinc.org", "code": "2093-3",
                 "display": "Cholesterol [Mass/volume] in Serum or Plasma"}
            ]
        },
        "subject": {"reference": "urn:uuid:pat-1"},
        "encounter": {"reference": "urn:uuid:enc-1"},
        "effectiveDateTime": "2023-02-03T09:10:00-05:00",
    }
    base.update(value)
    return base


OBSERVATIONS = [
    _obs("obs-double", valueQuantity={"value": 187.5, "unit": "mg/dL"}),
    _obs("obs-int", valueQuantity={"value": 42, "unit": "mg/dL"}),
    _obs("obs-str", valueString="Positive"),
    _obs("obs-cc", valueCodeableConcept={"coding": [{"display": "Never smoker"}]}),
    _obs("obs-cc-text", valueCodeableConcept={"text": "Unknown answer"}),
    _obs("obs-intval", valueInteger=7),
    _obs("obs-bool", valueBoolean=True),
    _obs("obs-dt", valueDateTime="2023-01-01T00:00:00Z"),
    _obs("obs-time", valueTime="09:15:00"),
    _obs("obs-period", valuePeriod={"start": "2023-01-01", "end": "2023-02-01"}),
    _obs("obs-range", valueRange={"low": {"value": 3.5}, "high": {"value": 5.0}}),
    _obs("obs-sampled", valueSampledData={"data": "1 2 3"}),
    _obs("obs-empty"),
]


def bundle(resources):
    return json.dumps({"entry": [{"resource": r} for r in resources]})


@pytest.fixture(scope="module")
def entries(spark):
    docs = [
        bundle([PATIENT, ENCOUNTER, CONDITION_ARRAY_CC]),
        bundle([CONDITION_SINGLE_CC] + OBSERVATIONS),
        # duplicate patient id across bundles → dedup keeps one
        bundle([PATIENT]),
    ]
    bundles = spark.read.json(spark.sparkContext.parallelize(docs))
    return explode_entries(bundles).cache()


def test_patient_extraction(spark, entries):
    rows = extract_patients(entries).collect()
    assert len(rows) == 1  # dedup across bundles
    p = rows[0].asDict()
    assert p["patient_id"] == "pat-1"
    assert p["gender"] == "female"
    assert p["birth_date"] == "1980-05-17"
    assert p["address_line"] == "12 Main St|Unit 4"
    assert p["address_city"] == "Springfield"
    assert p["geo_lat"] == 42.1
    assert p["geo_lon"] == -72.59
    assert p["race"] == "white"
    assert p["ethnicity"] == "nonhispanic"


def test_encounter_extraction(spark, entries):
    rows = extract_encounters(entries).collect()
    assert len(rows) == 1
    e = rows[0].asDict()
    assert e["encounter_id"] == "enc-1"
    assert e["patient_id"] == "pat-1"  # urn:uuid extracted
    assert e["class_code"] == "AMB"
    assert e["type_text"] == "Well child visit"
    assert e["location_name"] == "SPRINGFIELD CLINIC"
    assert e["service_provider"] == "SPRINGFIELD HOSPITAL"
    assert e["practitioner_name"] == "Dr. Quinn"
    assert e["practitioner_role"] == "primary performer"


def test_condition_array_or_single_cc(spark, entries):
    rows = {r["condition_id"]: r.asDict() for r in extract_conditions(entries).collect()}
    assert set(rows) == {"con-1", "con-2"}
    c1 = rows["con-1"]  # array-of-CC shape
    assert c1["code"] == "44054006"
    assert c1["code_display"] == "Diabetes"
    assert c1["code_system"] == "http://snomed.info/sct"
    assert c1["clinical_status"] == "active"
    assert c1["encounter_id"] == "enc-1"
    c2 = rows["con-2"]  # single-CC shape in the SAME column (mixed → string)
    assert c2["code_display"] == "Hypertension"
    # absent encounter ref → NULL in, NULL out (regexp_extract semantics;
    # '' appears only for non-null non-matching strings)
    assert c2["encounter_id"] is None


def test_observation_choice_type_numeric(spark, entries):
    rows = {r["observation_id"]: r.asDict() for r in extract_observations(entries).collect()}
    assert rows["obs-double"]["value_quantity"] == 187.5
    assert rows["obs-int"]["value_quantity"] == 42.0  # int widened → double
    assert rows["obs-double"]["value_unit"] == "mg/dL"
    assert rows["obs-str"]["value_quantity"] is None


def test_observation_value_x_ladder(spark, entries):
    rows = {r["observation_id"]: r.asDict() for r in extract_observations(entries).collect()}
    expected = {
        "obs-str": "Positive",
        "obs-cc": "Never smoker",
        "obs-cc-text": "Unknown answer",
        "obs-intval": "7",
        "obs-bool": "true",
        "obs-dt": "2023-01-01T00:00:00Z",
        "obs-time": "09:15:00",
        "obs-period": "2023-01-01",
        "obs-range": "3.5",
        "obs-sampled": "1 2 3",
        "obs-empty": None,
    }
    for oid, want in expected.items():
        assert rows[oid]["value_string"] == want, oid
    meta = rows["obs-double"]
    assert meta["code_display"] == "Cholesterol [Mass/volume] in Serum or Plasma"
    assert meta["category"] == "Laboratory"
    assert meta["patient_id"] == "pat-1"
    assert meta["effective_datetime"] == "2023-02-03T09:10:00-05:00"


def test_read_bundle_string_feeds_observation_extraction(spark):
    # The single-document upload path: one in-memory bundle string, not
    # a file, through the same explode → extract chain as the batch ETL.
    doc = bundle(
        [PATIENT, _obs("obs-upload", valueQuantity={"value": 99.5, "unit": "mg/dL"})]
    )
    rows = extract_observations(
        explode_entries(read_bundle_string(spark, doc))
    ).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["observation_id"] == "obs-upload"
    assert r["patient_id"] == "pat-1"
    assert r["encounter_id"] == "enc-1"
    assert r["code"] == "2093-3"
    assert r["value_quantity"] == 99.5
    assert r["value_unit"] == "mg/dL"
    assert r["effective_datetime"] == "2023-02-03T09:10:00-05:00"


def test_full_etl_roundtrip(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "b1.json").write_text(bundle([PATIENT, ENCOUNTER, CONDITION_ARRAY_CC] + OBSERVATIONS))
    (raw / "sub").mkdir()
    (raw / "sub" / "b2.json").write_text(bundle([PATIENT, CONDITION_SINGLE_CC]))
    curated = str(tmp_path / "curated")
    paths = fhir_etl(spark, str(raw), curated)
    pat = spark.read.parquet(paths["patient"])
    assert pat.count() == 1  # recursive read + dedup
    obs = spark.read.parquet(paths["observation"])
    assert obs.count() == len(OBSERVATIONS)
    # curated schema is the canonical FIXTURES.md §2 shape
    assert set(obs.columns) == {
        "observation_id", "status", "category", "code_system", "code",
        "code_display", "value_quantity", "value_unit", "value_string",
        "effective_datetime", "patient_id", "encounter_id",
    }
    assert dict(obs.dtypes)["value_quantity"] == "double"
    con = spark.read.parquet(paths["condition"])
    assert con.count() == 2


def test_etl_append_and_partitioning(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "b1.json").write_text(bundle(OBSERVATIONS + [PATIENT]))
    curated = str(tmp_path / "curated")
    # partition observation by status (deliberate deviation: the reference's
    # partition hook exists but is never used — SURVEY §4)
    fhir_etl(spark, str(raw), curated, observation_partitions=["status"])
    fhir_etl(spark, str(raw), curated, observation_partitions=["status"])  # append
    obs = spark.read.parquet(f"{curated}/observation")
    assert obs.count() == 2 * len(OBSERVATIONS)
    # partition pruning visible in the plan
    plan = obs.filter(F.col("status") == "final")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(status" in plan


def test_etl_one_shuffle_shape_and_no_leftover_staging(spark, tmp_path):
    """Second call on session.py's session: at most 5 jobs (the dedup's
    shuffle map stage and the four writes), one Parquet file per table,
    and nothing left persisted or cached after either call."""
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "b1.json").write_text(bundle([PATIENT, ENCOUNTER, CONDITION_ARRAY_CC] + OBSERVATIONS))
    (raw / "b2.json").write_text(bundle([PATIENT, CONDITION_SINGLE_CC]))
    schema = read_bundles(spark, str(raw)).schema
    jsc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    for i in range(2):
        curated = str(tmp_path / f"curated{i}")
        j0 = jsc.dagScheduler().nextJobId()
        paths = fhir_etl(spark, str(raw), curated, schema=schema)
        jobs = jsc.dagScheduler().nextJobId() - j0
    assert jobs <= 5
    for table, path in paths.items():
        files = [f for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
        assert len(files) == 1, (table, files)
    assert len(jsc.getRDDStorageInfo()) == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _adversarial_entries(spark):
    con_b = dict(CONDITION_SINGLE_CC, id="con-1")  # same id as CONDITION_ARRAY_CC
    no_id = {k: v for k, v in ENCOUNTER.items() if k != "id"}
    docs = [
        # a Patient and an Observation sharing one id: both survive
        bundle([PATIENT, dict(OBSERVATIONS[0], id="pat-1"), ENCOUNTER, CONDITION_ARRAY_CC]),
        # same-id duplicates with different content, a NULL id, a type
        # no table takes
        bundle([dict(PATIENT, gender="aaa-first"), con_b, no_id] + OBSERVATIONS[1:5]),
        bundle([{"resourceType": "Procedure", "id": "proc-1", "status": "done"}, no_id]),
        # an entry without a resource: explode_outer's NULL-resource row
        json.dumps({"entry": [{"fullUrl": "urn:uuid:none"}]}),
        bundle([dict(OBSERVATIONS[5], status="amended")]),
    ]
    return explode_entries(spark.read.json(spark.sparkContext.parallelize(docs)))


_EXTRACT = {
    "patient": extract_patients,
    "encounter": extract_encounters,
    "condition": extract_conditions,
    "observation": extract_observations,
}


@pytest.mark.parametrize("deterministic", [False, True])
def test_write_curated_equals_per_table_extraction(spark, tmp_path, deterministic):
    """The one-shuffle ETL writes what the per-table extractions write:
    same schema, column order and rows, the observation table partitioned."""
    entries = _adversarial_entries(spark)
    parts = {"observation": ["status"]}
    paths = write_curated(
        entries, str(tmp_path / "one"), parts["observation"], deterministic_dedup=deterministic
    )
    ref = str(tmp_path / "per_table")
    for name, extract in _EXTRACT.items():
        write_parquet(extract(entries, deterministic), ref, name, partitions=parts.get(name))
    for name, (rtype, columns) in TABLES.items():
        got = spark.read.parquet(paths[name])
        want = spark.read.parquet(f"{ref}/{name}")
        assert got.schema == want.schema, name
        got_rows = sorted(map(tuple, got.collect()), key=repr)
        want_rows = sorted(map(tuple, want.collect()), key=repr)
        keys = [r[0] for r in got_rows]
        assert len(keys) == len(set(keys)) and set(keys) == {r[0] for r in want_rows}, name
        if deterministic:
            assert got_rows == want_rows, name
            continue
        # arbitrary mode keeps exactly one of each key's rows
        every = entries.filter(F.col("resource.resourceType") == rtype).select(*columns(entries.schema))
        candidates = {tuple(r[c] for c in got.columns) for r in every.collect()}
        assert set(got_rows) <= candidates, name
    pat = {r.patient_id: r for r in spark.read.parquet(paths["patient"]).collect()}
    obs = {r.observation_id for r in spark.read.parquet(paths["observation"]).collect()}
    assert "pat-1" in pat and "pat-1" in obs
    enc = [r.encounter_id for r in spark.read.parquet(paths["encounter"]).collect()]
    assert sorted(enc, key=str) == [None, "enc-1"]
    con = spark.read.parquet(paths["condition"]).collect()
    assert len(con) == 1
    if deterministic:
        assert pat["pat-1"].gender == "aaa-first"
        assert con[0].code == "38341003"  # lexicographically-first row wins
    statuses = {r.status for r in spark.read.parquet(paths["observation"]).collect()}
    assert statuses == {"final", "amended"}
    assert {"status=amended", "status=final"} <= set(os.listdir(paths["observation"]))


def _events_dir(path, n: int) -> str:
    path.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [1_704_067_200_000_000 + i * 60_000_000 for i in range(n)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
                "event_type": ["click"] * n,
                "value": [float(i) for i in range(n)],
                "props": ["{}"] * n,
            }
        ),
        str(path / "events.parquet"),
    )
    return str(path)


def test_obs_choice_fixture_keyed_on_full_data_dir(spark, tmp_path):
    """Two data directories sharing a base name each get their own
    once-per-process choice fixture."""
    first = _events_dir(tmp_path / "a" / "sfx", 1000)
    second = _events_dir(tmp_path / "b" / "sfx", 500)
    assert q_etl_obs_choice(spark, first).count() == 1000
    assert q_etl_obs_choice(spark, second).count() == 500


def test_deterministic_dedup(spark):
    docs = [
        bundle([dict(PATIENT, gender="female")]),
        bundle([dict(PATIENT, gender="aaa-first")]),
    ]
    bundles = spark.read.json(spark.sparkContext.parallelize(docs))
    entries = explode_entries(bundles)
    out = extract_patients(entries, deterministic_dedup=True).collect()
    assert len(out) == 1
    assert out[0]["gender"] == "aaa-first"  # lexicographically-first row wins


def test_jget_ladder_fallback_legs(spark):
    """The probing ladders' FALLBACK legs, exercised directly over raw
    mixed-shape JSON strings (the situation jget exists for: the driver
    etl_* queries always satisfy the first leg, because from_json's typed
    schema normalizes the shape — see reference :28-31)."""
    from healthcare_aws_data_engineering_spark.functions.fhir_extract import (
        json_path_first,
    )

    rows = [
        # array-shaped participant type → first leg $[0].type[0].text
        ('[{"individual":{"display":"Dr A"},"type":[{"text":"attender"}]}]',),
        # object-shaped participant type → fallback leg $[0].type.text
        ('[{"individual":{"display":"Dr B"},"type":{"text":"admitter"}}]',),
        # neither shape → NULL
        ('[{"individual":{"display":"Dr C"}}]',),
    ]
    df = spark.createDataFrame(rows, "participant string")
    got = [
        r.role
        for r in df.select(
            json_path_first(
                F.col("participant"), "$[0].type[0].text", "$[0].type.text"
            ).alias("role")
        ).collect()
    ]
    assert got == ["attender", "admitter", None]
