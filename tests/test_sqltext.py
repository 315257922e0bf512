"""Generated SQL text against the code paths it replaced.

- ``sqltext.sql_double`` round-trips every real scalar type through
  Spark SQL bit-for-bit (a Decimal or numpy scalar must never parse to
  a silent NULL).
- ``FeaturePipelineModel.transform`` (SQL text since 855053e) is
  bit-equal to the Column-API withColumn chain it replaced, on random
  fitted pipelines.  That chain is kept below, frozen as it was at
  855053e^, as the reference.
"""

from __future__ import annotations

import math
import struct
from decimal import Decimal

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_attack_detection_spark.functions.feature import FeaturePipelineModel
from web_attack_detection_spark.sqltext import sql_double


def _bits(x):
    return None if x is None else struct.pack("<d", x)


def test_sql_double_round_trips_every_scalar_type(spark):
    cases = [
        (Decimal("1.5"), 1.5),
        (np.float64(0.1), 0.1),
        (np.float64(1.0) / 3.0, 1.0 / 3.0),
        (0.1 + 0.2, 0.30000000000000004),  # needs all 17 digits
        (np.float32(0.5), 0.5),
        (7, 7.0),
        (-0.0, -0.0),
        (1e-7, 1e-7),
        (2.0**-1074, 2.0**-1074),
        (None, None),
    ]
    row = spark.sql(
        "SELECT " + ", ".join(f"{sql_double(x)} AS c{i}" for i, (x, _) in enumerate(cases))
    ).first()
    for i, (x, want) in enumerate(cases):
        assert _bits(row[f"c{i}"]) == _bits(want), (x, row[f"c{i}"])
    assert math.copysign(1.0, row["c6"]) == -1.0


# --- the Column-API transform chain as of 855053e^ (reference) --------------


def _ref_lookup(col: str, mapping: dict):
    if not mapping:
        return F.lit(None).cast("double")
    m = F.create_map(
        *[x for k, v in mapping.items() for x in (F.lit(k), F.lit(float(v)))]
    )
    return F.element_at(m, F.col(col).cast("string"))


def _ref_transform(model: FeaturePipelineModel, df: DataFrame) -> DataFrame:
    out = df
    for c, m in model.means.items():  # apply_imputer
        out = out.withColumn(c, F.coalesce(F.col(c).cast("double"), F.lit(m)))
    for c, (_mean, std) in model.scaler_stats.items():  # apply_scaler
        expr = F.col(c).cast("double")
        if std is not None and std > 0.0:
            expr = expr / F.lit(std)
        out = out.withColumn(f"{c}_scaled", expr)
    feature_cols = [f"{c}_scaled" for c in model.numeric_cols]
    for c in model.categorical_cols:
        out = out.withColumn(f"{c}_idx", _ref_lookup(c, model.cat_models[c]))
        out = out.filter(F.col(f"{c}_idx").isNotNull())
    if model.label_model is not None and model.label_col is not None:
        out = out.withColumn(
            "label", _ref_lookup(model.label_col, model.label_model)
        ).filter(F.col("label").isNotNull())
    for c in model.categorical_cols:  # apply_one_hot, drop_last
        idx = f"{c}_idx"
        arr = F.array(
            *[
                F.when(F.col(idx) == float(i), F.lit(1.0)).otherwise(F.lit(0.0))
                for i in range(model.cat_sizes[c] - 1)
            ]
        )
        out = out.withColumn(f"{c}_vec", arr)
    out = out.withColumn(  # assemble_array
        "numeric_features", F.array(*[F.col(c).cast("double") for c in feature_cols])
    )
    final = F.col("numeric_features")
    for c in model.categorical_cols:
        final = F.concat(final, F.col(f"{c}_vec"))
    return out.withColumn("features", final)


# --- random pipelines --------------------------------------------------------

_CATS = ["a", "b", "o'neil", "back\\slash", 'dq"x', "x''y", "", "\\'"]
_finite = st.floats(allow_nan=False, allow_infinity=False, width=64)


@st.composite
def _pipelines(draw):
    n_num = draw(st.integers(1, 3))
    n_cat = draw(st.integers(0, 2))
    num = [f"n{i}" for i in range(n_num)]
    cat = [f"k{i}" for i in range(n_cat)]
    n_rows = draw(st.integers(1, 6))
    rows = []
    for r in range(n_rows):
        vals = [draw(st.one_of(st.none(), _finite)) for _ in num]
        cats = [draw(st.one_of(st.none(), st.sampled_from(_CATS))) for _ in cat]
        rows.append((r, *vals, *cats, draw(st.sampled_from(_CATS))))
    # a subset of the numeric columns has an imputer mean ("missing
    # means"); std 0 / None pass the column through unscaled
    means = {c: draw(_finite) for c in num if draw(st.booleans())}
    scaler = {
        c: (0.0, draw(st.one_of(st.just(0.0), st.none(), _finite.filter(lambda x: x > 0))))
        for c in num
    }
    cat_models, cat_sizes = {}, {}
    for c in cat:
        seen = draw(st.lists(st.sampled_from(_CATS), unique=True, max_size=5))
        cat_models[c] = {v: float(i) for i, v in enumerate(seen)}
        cat_sizes[c] = len(seen) + draw(st.integers(0, 1))
    label = draw(st.booleans())
    label_model = (
        {v: float(i) for i, v in enumerate(draw(st.lists(st.sampled_from(_CATS), unique=True, min_size=1, max_size=4)))}
        if label
        else None
    )
    model = FeaturePipelineModel(
        numeric_cols=num,
        categorical_cols=cat,
        means=means,
        scaler_stats=scaler,
        cat_models=cat_models,
        cat_sizes=cat_sizes,
        label_model=label_model,
        label_col="lab" if label else None,
    )
    schema = ", ".join(
        ["id long"] + [f"{c} double" for c in num] + [f"{c} string" for c in cat] + ["lab string"]
    )
    return model, rows, schema


def _canon(v):
    if isinstance(v, float):
        return ("d", struct.pack("<d", v))
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


@given(_pipelines())
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
def test_sql_text_transform_bit_equals_column_api_chain(spark, pipeline):
    model, rows, schema = pipeline
    df = spark.createDataFrame(rows, schema)
    got = model.transform(df)
    want = _ref_transform(model, df)
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        (f.name, f.dataType.simpleString()) for f in want.schema
    ]
    g = [[_canon(v) for v in r] for r in got.orderBy("id").collect()]
    w = [[_canon(v) for v in r] for r in want.orderBy("id").collect()]
    assert g == w
