"""FHIR extraction expression builders (SURVEY §2.8 F1–F6).

Parity targets (cited into /root/reference/):

- ``ref_to_uuid``      — Glue_tranformation_json_parquet.py:24-26
- JSON-path fallback   — :28-31 (``jget``)
- CodeableConcept accessors tolerating array-or-single at both the CC and
  the coding level — :34-49
- choice-type numeric coalesce — :141-147
- value[x] string ladder — :164-176
- guarded array_join — :86-90

Design difference from the reference (deliberate, documented): the reference
probes *every* shape at runtime by serializing structs to JSON per row
(``get_json_object(to_json(col), path)``), paying a full-struct
serialization per row per path and defeating nested-column pruning. Spark
already tells us the shape at plan time — ``spark.read.json`` widens mixed
numerics and downgrades conflicting object/array shapes to ``string`` — so
these builders inspect the DataFrame schema ONCE and emit the cheapest
expression that is semantically identical:

- field inferred as struct/array → direct typed access (codegen, prunable);
- field inferred as string (mixed shapes) → the reference's JSON-path
  coalesce ladder over that string;
- field absent from the schema entirely → typed NULL (the reference's
  ladder would also yield NULL, after paying to_json on every row).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, DataType, StringType, StructType

UUID_RE = r"urn:uuid:([A-Za-z0-9-]+)"


def ref_to_uuid(col: Column | str) -> Column:
    """Extract the UUID from a FHIR reference ``"urn:uuid:<id>"``; empty
    string when there is no match (regexp_extract semantics, identical to
    the reference helper)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, UUID_RE, 1)


def field_type(schema: DataType, path: str) -> DataType | None:
    """Walk a dotted path through nested StructTypes; None if absent."""
    cur: DataType = schema
    for part in path.split("."):
        if not isinstance(cur, StructType) or part not in cur.fieldNames():
            return None
        cur = cur[part].dataType
    return cur


def opt_col(schema: DataType, path: str) -> Column:
    """``F.col(path)`` if the path exists in the schema, else typed NULL.

    Direct access keeps nested-schema pruning intact; a NULL literal costs
    nothing. Either way no per-row JSON serialization happens for fields
    the inferred schema already describes (or provably lacks).
    """
    if field_type(schema, path) is None:
        return F.lit(None).cast("string")
    return F.col(path)


def safe_path(schema: DataType, spec: str, dtype: str = "string") -> Column:
    """Schema-checked access for a dotted path with array indexing, e.g.
    ``"address[0].extension[0].extension[1].valueDecimal"``.

    Any missing struct field along the way → typed NULL at plan time
    (inference only materializes fields that occur somewhere in the data,
    so every nested access must be guarded)."""
    import re as _re

    cur: DataType = schema
    col: Column | None = None
    for token in spec.split("."):
        m = _re.match(r"^(\w+)((?:\[\d+\])*)$", token)
        name, idxs = m.group(1), _re.findall(r"\[(\d+)\]", m.group(2))
        if not isinstance(cur, StructType) or name not in cur.fieldNames():
            return F.lit(None).cast(dtype)
        cur = cur[name].dataType
        col = F.col(name) if col is None else col[name]
        for i in idxs:
            if not isinstance(cur, ArrayType):
                return F.lit(None).cast(dtype)
            cur = cur.elementType
            col = col[int(i)]
    return col


def json_path_first(col: Column, *paths: str) -> Column:
    """First non-null ``get_json_object`` over a JSON *string* column —
    the reference's ``jget`` restricted to columns that are already
    strings (mixed-shape fields), where per-row path probing is the only
    option."""
    return F.coalesce(*[F.get_json_object(col, p) for p in paths])


def _string_of(schema: DataType, path: str) -> Column | None:
    """A column rendered as a JSON string for path probing, or None if the
    field is absent. Struct/array fields pay to_json only when the caller
    actually needs shape-tolerant access (never for plain scalars)."""
    t = field_type(schema, path)
    if t is None:
        return None
    if isinstance(t, StringType):
        return F.col(path)
    return F.to_json(F.col(path))


def cc_attr(schema: DataType, path: str, attr: str) -> Column:
    """CodeableConcept ``coding`` attribute (system/code/display), tolerant
    of array-or-single shape at both the CC and the coding level
    (reference :34-40).

    Shape decided at plan time:
    - struct with array coding  → ``cc.coding[0].attr``
    - struct with struct coding → ``cc.coding.attr``
    - array of CCs              → ``cc[0]...`` variants
    - string (mixed shapes)     → 4-path JSON ladder, reference order
    - absent                    → NULL
    """
    t = field_type(schema, path)
    if t is None:
        return F.lit(None).cast("string")

    def _coding_attr(cc_t: DataType, base: str) -> Column:
        coding_t = field_type(cc_t, "coding") if isinstance(cc_t, StructType) else None
        if isinstance(coding_t, ArrayType) and isinstance(coding_t.elementType, StructType):
            if attr in coding_t.elementType.fieldNames():
                return safe_path(schema, f"{base}.coding[0].{attr}").cast("string")
        elif isinstance(coding_t, StructType) and attr in coding_t.fieldNames():
            return safe_path(schema, f"{base}.coding.{attr}").cast("string")
        return F.lit(None).cast("string")

    if isinstance(t, StructType):
        return _coding_attr(t, path)
    if isinstance(t, ArrayType):
        elem = t.elementType
        if isinstance(elem, StructType):
            return _coding_attr(elem, f"{path}[0]")
        return F.lit(None).cast("string")
    # Mixed shapes inferred as string → probe like the reference does.
    return json_path_first(
        F.col(path),
        f"$.coding[0].{attr}",
        f"$.coding.{attr}",
        f"$[0].coding[0].{attr}",
        f"$[0].coding.{attr}",
    )


def cc_text(schema: DataType, path: str) -> Column:
    """CodeableConcept ``.text``, array-or-single tolerant (reference :42-46)."""
    t = field_type(schema, path)
    if t is None:
        return F.lit(None).cast("string")
    if isinstance(t, StructType):
        if "text" in t.fieldNames():
            return F.col(f"{path}.text")
        return F.lit(None).cast("string")
    if isinstance(t, ArrayType) and isinstance(t.elementType, StructType):
        if "text" in t.elementType.fieldNames():
            return F.col(path)[0]["text"]
        return F.lit(None).cast("string")
    return json_path_first(F.col(path), "$.text", "$[0].text")


def cc_display(schema: DataType, path: str) -> Column:
    return cc_attr(schema, path, "display")


def choice_double(schema: DataType, path: str) -> Column:
    """Numeric FHIR choice type → DOUBLE (reference :141-147).

    Under ``spark.read.json`` mixed int/double rows widen to double and the
    Glue ``{double,int}`` choice struct never materializes; mixed
    numeric/string rows downgrade the whole field to string. Both cases
    reduce to a try_cast; the JSON-path fallback survives only for the
    string-typed case, which IS the reference's fallback leg (:146).
    """
    t = field_type(schema, path)
    if t is None:
        return F.lit(None).cast("double")
    if isinstance(t, StructType):
        # A genuine choice struct (e.g. from a Glue-written source).
        legs = [
            F.col(f"{path}.{f}").cast("double")
            for f in t.fieldNames()
            if f in ("double", "int", "long")
        ]
        return F.coalesce(*legs) if legs else F.lit(None).cast("double")
    return F.col(path).try_cast("double")


def value_x_string(schema: DataType) -> Column:
    """Collapse the FHIR value[x] polymorphism to one string column,
    reference ladder order preserved exactly (:165-176):

    valueString, valueCodeableConcept display, valueCodeableConcept text,
    valueInteger, valueBoolean, valueDateTime, valueTime,
    valuePeriod.start, valueRange.low.value, valueSampledData.data.
    """
    rt = field_type(schema, "resource")
    if rt is None:
        return F.lit(None).cast("string")

    def leg(rel: str) -> Column:
        return opt_col(schema, f"resource.{rel}").cast("string")

    return F.coalesce(
        leg("valueString"),
        cc_attr(schema, "resource.valueCodeableConcept", "display"),
        cc_text(schema, "resource.valueCodeableConcept"),
        leg("valueInteger"),
        leg("valueBoolean"),
        leg("valueDateTime"),
        leg("valueTime"),
        leg("valuePeriod.start"),
        leg("valueRange.low.value"),
        leg("valueSampledData.data"),
    )


def guarded_array_join(col: Column) -> Column:
    """NULL-propagating array_join (reference :86-90): NULL array → NULL,
    not empty string."""
    return F.when(col.isNotNull(), F.array_join(col, "|"))
