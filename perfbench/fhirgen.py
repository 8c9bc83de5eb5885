"""Seeded FHIR raw-zone generator with its own expected results.

``write_raw_zone`` writes one bundle per file, the reference's raw-zone
shape. Every bundle holds one Patient plus Encounters, Conditions and
Observations; every tenth bundle repeats the previous bundle's Patient,
so the ETL's key dedup has work to do. Observations carry the CVD and
T2D analyte display names the two reports filter on, numeric values as
both JSON ints and doubles, and urine glucose as free text in mixed case
with padding. The same seed gives the same bytes.

The generator also computes what the curated zone and the two reports
must hold: per-table row counts and the fingerprints of the
``cvd_report`` / ``prediabetes_report`` rows.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

from oracle import fingerprint

CVD = {
    "hdl": ("2085-9", "Cholesterol in HDL [Mass/volume] in Serum or Plasma", 25, 90),
    "ldl": ("18262-6", "Low Density Lipoprotein Cholesterol", 60, 200),
    "trig": ("2571-8", "Triglycerides", 50, 300),
    "total_chol": ("2093-3", "Cholesterol [Mass/volume] in Serum or Plasma", 120, 300),
}
T2D = {
    "a1c": ("4548-4", "Hemoglobin A1c/Hemoglobin.total in Blood", 4.5, 9.0),
    "glucose_blood": ("2339-0", "Glucose [Mass/volume] in Blood", 55, 200),
}
URINE = ("25428-4", "Glucose [Presence] in Urine by Test strip")
URINE_TEXT = ("Positive", " pos", "Trace ", "NEGATIVE", "neg", " Negative ")
OTHER = {
    "height": ("8302-2", "Body height", 150, 200),
    "weight": ("29463-7", "Body weight", 45, 120),
    "hct": ("4544-3", "Hematocrit [Volume Fraction] of Blood by Automated count", 35, 50),
}
NUMERIC = {**CVD, **T2D, **OTHER}


@dataclass
class RawZone:
    raw_bytes: int = 0
    counts: dict[str, int] = field(default_factory=dict)
    reports: dict[str, tuple[int, str]] = field(default_factory=dict)


def _uuid(rng: random.Random) -> str:
    h = f"{rng.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _ts(rng: random.Random) -> str:
    # One-day granularity plus a few fixed clock times, so some
    # (patient, analyte) pairs tie on time and fall back to the id.
    return (
        f"20{rng.randint(18, 23)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        f"T{rng.choice((8, 9, 14)):02d}:00:00+00:00"
    )


def _cc(system: str, code: str, display: str) -> dict:
    return {"coding": [{"system": system, "code": code, "display": display}], "text": display}


def _value(rng: random.Random, lo: float, hi: float):
    # Half the values are JSON ints, the rest one-decimal doubles; both
    # land on the band edges the report ladders test.
    if rng.random() < 0.5:
        return rng.randint(int(lo), int(hi))
    return round(rng.uniform(lo, hi), 1)


def _patient(rng: random.Random, pid: str) -> dict:
    return {
        "resourceType": "Patient",
        "id": pid,
        "gender": rng.choice(("male", "female")),
        "birthDate": f"19{rng.randint(30, 99)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
        "address": [
            {
                "line": [f"{rng.randint(1, 999)} Main St"],
                "city": rng.choice(("Boston", "Salem", "Lowell")),
                "state": "MA",
                "postalCode": f"0{rng.randint(1000, 2999)}",
                "country": "US",
                "extension": [
                    {
                        "extension": [
                            {"url": "latitude", "valueDecimal": round(rng.uniform(41, 43), 6)},
                            {"url": "longitude", "valueDecimal": round(rng.uniform(-73, -70), 6)},
                        ]
                    }
                ],
            }
        ],
        "extension": [
            {"extension": [{"url": "ombCategory"}, {"url": "text", "valueString": rng.choice(("White", "Black", "Asian"))}]},
            {"extension": [{"url": "ombCategory"}, {"url": "text", "valueString": rng.choice(("Hispanic", "Not Hispanic"))}]},
        ],
    }


def _encounter(rng: random.Random, eid: str, pid: str) -> dict:
    start = _ts(rng)
    return {
        "resourceType": "Encounter",
        "id": eid,
        "status": "finished",
        "class": {"code": rng.choice(("AMB", "EMER", "IMP"))},
        "type": [{"text": rng.choice(("Checkup", "Consultation", "Emergency"))}],
        "subject": {"reference": f"urn:uuid:{pid}"},
        "period": {"start": start, "end": start},
        "location": [{"location": {"display": "General Hospital"}}],
        "serviceProvider": {"display": "General Hospital"},
        "participant": [{"individual": {"display": "Dr. Smith"}, "type": [{"text": "primary performer"}]}],
    }


def _condition(rng: random.Random, cid: str, pid: str, eid: str) -> dict:
    code, display = rng.choice((("44054006", "Diabetes"), ("38341003", "Hypertension"), ("55822004", "Hyperlipidemia")))
    return {
        "resourceType": "Condition",
        "id": cid,
        "subject": {"reference": f"urn:uuid:{pid}"},
        "encounter": {"reference": f"urn:uuid:{eid}"},
        "code": _cc("http://snomed.info/sct", code, display),
        "clinicalStatus": {"coding": [{"code": "active"}]},
        "verificationStatus": {"coding": [{"code": "confirmed"}]},
        "onsetDateTime": _ts(rng),
        "recordedDate": _ts(rng),
    }


def _observation(rng: random.Random, oid: str, pid: str, eid: str, key: str):
    """Returns the resource and its (display, time, id, number, text)."""
    res = {
        "resourceType": "Observation",
        "id": oid,
        "status": "final",
        "category": [_cc("http://terminology.hl7.org/CodeSystem/observation-category", "laboratory", "laboratory")],
        "subject": {"reference": f"urn:uuid:{pid}"},
        "encounter": {"reference": f"urn:uuid:{eid}"},
        "effectiveDateTime": _ts(rng),
    }
    if key == "urine":
        code, display = URINE
        text = rng.choice(URINE_TEXT)
        res["valueString"] = text
        num = None
    else:
        code, display, lo, hi = NUMERIC[key]
        v = _value(rng, lo, hi)
        res["valueQuantity"] = {"value": v, "unit": "mg/dL"}
        num, text = float(v), None
    res["code"] = _cc("http://loinc.org", code, display)
    return res, (display, res["effectiveDateTime"], oid, num, text)


def _bundle(rng: random.Random, pid: str, patient: dict, obs_per_bundle: int):
    entries = [patient]
    obs = []
    encounters = [_uuid(rng) for _ in range(rng.randint(3, 6))]
    entries += [_encounter(rng, e, pid) for e in encounters]
    entries += [_condition(rng, _uuid(rng), pid, rng.choice(encounters)) for _ in range(rng.randint(3, 8))]
    keys = list(NUMERIC) + ["urine"]
    for i in range(obs_per_bundle):
        key = keys[i] if i < len(keys) else rng.choice(keys)
        res, row = _observation(rng, _uuid(rng), pid, rng.choice(encounters), key)
        entries.append(res)
        obs.append(row)
    return entries, len(encounters), obs


def _latest(rows, display: str):
    """The value of the latest row for one analyte, ordered by
    (effective_datetime, observation_id), as the reports define it."""
    hit = [r for r in rows if r[0] == display]
    return max(hit, key=lambda r: (r[1], r[2])) if hit else None


def _ge(x, b):
    return None if x is None else x >= b


def _between(x, lo, hi):
    return None if x is None else lo <= x <= hi


def _ladder(legs, otherwise=None):
    for cond, label in legs:
        if cond is True:
            return label
    return otherwise


def _cvd_row(pid: str, rows) -> tuple:
    v = {k: (_latest(rows, d) or (None,) * 4)[3] for k, (_, d, _, _) in CVD.items()}
    hdl, ldl, trig, tc = v["hdl"], v["ldl"], v["trig"], v["total_chol"]
    lt = lambda x, b: None if x is None else x < b  # noqa: E731
    return (
        pid,
        hdl,
        _ladder([(hdl is None, "n/a"), (_ge(hdl, 60), "Protective"), (_between(hdl, 40, 59), "Normal"), (lt(hdl, 40), "Low")]),
        ldl,
        _ladder([(ldl is None, "n/a"), (_ge(ldl, 160), "High"), (_between(ldl, 130, 159), "Borderline"),
                 (_between(ldl, 100, 129), "Near optimal"), (lt(ldl, 100), "Optimal")]),
        trig,
        _ladder([(trig is None, "n/a"), (_ge(trig, 200), "High"), (_between(trig, 150, 199), "Borderline"), (lt(trig, 150), "Normal")]),
        tc,
        _ladder([(tc is None, "n/a"), (_ge(tc, 240), "High"), (_between(tc, 200, 239), "Borderline"), (lt(tc, 200), "Desirable")]),
        _ladder(
            [
                (any(c is True for c in (_ge(ldl, 130), _ge(trig, 150), lt(hdl, 40), _ge(tc, 240))), "At risk"),
                (all(x is None for x in (hdl, ldl, trig, tc)), "Insufficient data"),
            ],
            "Likely normal",
        ),
    )


_CVD_COLS = ["patient", "hdl", "hdl_status", "ldl", "ldl_status", "trig", "triglycerides_status",
             "total_chol", "total_chol_status", "overall_cvd_risk"]
_T2D_COLS = ["patient", "a1c", "a1c_status", "glucose_blood", "glucose_blood_status",
             "glucose_urine_txt", "glucose_urine_status", "overall_t2d_risk"]


def _t2d_row(pid: str, rows) -> tuple:
    a1c = (_latest(rows, T2D["a1c"][1]) or (None,) * 4)[3]
    glu = (_latest(rows, T2D["glucose_blood"][1]) or (None,) * 4)[3]
    u = _latest(rows, URINE[1])
    urine = u[4].strip().lower() if u else None
    pos = None if urine is None else urine in ("positive", "pos")
    trace = None if urine is None else urine == "trace"
    return (
        pid,
        a1c,
        _ladder([(a1c is None, "n/a"), (_ge(a1c, 6.5), "Diabetes"), (_ge(a1c, 5.7), "Prediabetes")], "Normal"),
        glu,
        _ladder([(glu is None, "n/a"), (_ge(glu, 126), "Diabetes"), (_between(glu, 100, 125), "Prediabetes"),
                 (_between(glu, 70, 99), "Normal"), (None if glu is None else glu < 70, "Low")]),
        urine,
        _ladder([(urine is None, "n/a"), (pos, "Abnormal"), (trace, "Borderline"),
                 (None if urine is None else urine in ("negative", "neg"), "Normal")], "n/a"),
        _ladder(
            [
                (any(c is True for c in (_ge(a1c, 6.5), _ge(glu, 126), pos)), "Diabetes likely (lab criteria met)"),
                (any(c is True for c in (_between(a1c, 5.7, 6.4), _between(glu, 100, 125), trace)), "Prediabetes / Elevated risk"),
                (all(x is None for x in (a1c, glu, urine)), "Insufficient data"),
            ],
            "Normal",
        ),
    )


def write_raw_zone(out_dir: str, seed: int, bundles: int, obs_per_bundle: int) -> RawZone:
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    zone = RawZone()
    obs_by_patient: dict[str, list] = {}
    n_enc = n_cond = 0
    patient = pid = None
    for b in range(bundles):
        if b % 10 != 9 or patient is None:
            pid = _uuid(rng)
            patient = _patient(rng, pid)
        entries, enc, obs = _bundle(rng, pid, patient, obs_per_bundle)
        n_enc += enc
        n_cond += len(entries) - 1 - enc - len(obs)
        obs_by_patient.setdefault(pid, []).extend(obs)
        body = json.dumps({"resourceType": "Bundle", "type": "transaction",
                           "entry": [{"resource": r} for r in entries]}, indent=1)
        path = os.path.join(out_dir, f"bundle_{b:05d}.json")
        with open(path, "w") as f:
            f.write(body)
        zone.raw_bytes += len(body.encode())
    zone.counts = {
        "patient": len(obs_by_patient),
        "encounter": n_enc,
        "condition": n_cond,
        "observation": sum(len(v) for v in obs_by_patient.values()),
    }
    zone.reports = {
        "cvd_report": fingerprint(_CVD_COLS, [_cvd_row(p, r) for p, r in obs_by_patient.items()]),
        "prediabetes_report": fingerprint(_T2D_COLS, [_t2d_row(p, r) for p, r in obs_by_patient.items()]),
    }
    return zone
