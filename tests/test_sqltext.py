"""SQL literal text (``functions/sqltext.py``) parses back in Spark to the
value and type ``F.lit`` would give: the clinical rows' expressions are
built as SQL text, and their results stay bit-identical only if every
literal does."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql.types import DoubleType, IntegerType, LongType, StringType

from healthcare_aws_data_engineering_spark.functions.sqltext import fold, lit

DOUBLES = [0.1, 1 / 3, 100 / 3, 5.7, 5e-324, 1e300, -0.0]
STRINGS = ["it's", "back\\slash", "both \\' and '\\", "\\n is not a newline", ""]


def _parse(spark, texts):
    """One row of ``texts`` parsed as Spark SQL: (values, field types)."""
    df = spark.range(1).selectExpr(*[f"{t} AS c{i}" for i, t in enumerate(texts)])
    return list(df.collect()[0]), [f.dataType for f in df.schema.fields]


def test_doubles_parse_to_the_same_bits(spark):
    assert 100 / 3 == 33.333333333333336
    values, types = _parse(spark, [lit(v) for v in DOUBLES])
    assert types == [DoubleType()] * len(DOUBLES)
    for want, got in zip(DOUBLES, values):
        assert struct.pack("<d", got) == struct.pack("<d", want), (lit(want), got)


def test_strings_parse_back_to_the_same_text(spark):
    values, types = _parse(spark, [lit(s) for s in STRINGS])
    assert types == [StringType()] * len(STRINGS)
    assert values == STRINGS


def test_ints_stay_integer_literals(spark):
    values, types = _parse(spark, [lit(0), lit(3), lit(-7), lit(2**31)])
    assert types == [IntegerType()] * 3 + [LongType()]
    assert values == [0, 3, -7, 2**31]


def test_non_finite_doubles_have_no_literal():
    for v in (math.inf, -math.inf, math.nan):
        with pytest.raises(ValueError):
            lit(v)


def test_fold_nests_left():
    assert fold("OR", ["a", "b", "c"]) == "((a OR b) OR c)"
    assert fold("+", ["0"]) == "0"
