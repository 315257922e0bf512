"""DataFrame-native feature transformers (SURVEY.md §2.3 F1-F8).

The reference does feature engineering with ``pyspark.ml`` estimators
(``/root/reference/utils/data_preprocessing.py:24-47``): Imputer(mean),
StringIndexer per categorical + label, OneHotEncoder, VectorAssembler,
StandardScaler, PCA(k=20), chained in a Pipeline fit on train only
(``data_preprocessing.py:50-58``).

This module re-expresses each estimator as a *fit = aggregation query,
transform = broadcast-join / column expression* pair. Why not just call
``pyspark.ml``? Two reasons, both scale/verifiability driven:

1. Every fit statistic here is a plain Spark SQL aggregate, so the
   driver's DuckDB oracle can verify the semantics value-for-value
   (``VectorUDT`` never appears; the assembled features are
   ``ArrayType(DoubleType)`` — see FIXTURES.md "Oracle notes").
2. Transform never leaves the JVM: indexer models are broadcast-joined
   (model size = column cardinality, tiny vs the fact table), scalar
   stats (means/stddevs) are baked into literal expressions. At 100 TB
   the transform is a map-only stage — zero shuffles.

Fitted models are small DataFrames / scalar dicts, NOT driver-side
copies of data. Collecting an O(n_columns) aggregate to the driver is
scale-safe; collecting rows is not, and never happens here.

Semantic contracts matched to Spark ML (unit-tested in
tests/test_feature.py):
- StringIndexer: frequencyDesc order, ties broken by value ascending
  → ``ROW_NUMBER() OVER (ORDER BY cnt DESC, value ASC) - 1``.
- StandardScaler defaults: withMean=False, withStd=True, *sample*
  stddev (divide by n-1); zero-stddev columns pass through unscaled.
- Imputer mean: average of non-null values, nulls replaced, non-nulls
  preserved bit-exactly.
- OneHotEncoder: dropLast=True → highest index maps to all-zeros.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web_attack_detection_spark.sqltext import sql_double

# ---------------------------------------------------------------------------
# R3 — dtype-driven column classification
# ---------------------------------------------------------------------------

_REFERENCE_NUMERIC_TYPENAMES = {"integer", "double"}


def classify_columns(
    df: DataFrame,
    label_col: str | None = None,
    reference_compat: bool = False,
) -> tuple[list[str], list[str]]:
    """Split columns into (categorical, numeric) by schema dtype.

    Mirrors ``/root/reference/utils/data_preprocessing.py:17-21``:
    string → categorical, integer/double → numeric. The reference's
    whitelist silently drops long/float/decimal columns (SURVEY.md
    §1.2); default here widens to all ``NumericType``. Pass
    ``reference_compat=True`` for the narrow behavior.

    The label column is excluded from both lists — the reference leaks
    its binary label into the features (SURVEY.md §1.3); we don't.
    """
    categorical: list[str] = []
    numeric: list[str] = []
    for f_ in df.schema.fields:
        if label_col is not None and f_.name == label_col:
            continue
        if isinstance(f_.dataType, T.StringType):
            categorical.append(f_.name)
        elif reference_compat:
            if f_.dataType.typeName() in _REFERENCE_NUMERIC_TYPENAMES:
                numeric.append(f_.name)
        elif isinstance(f_.dataType, T.NumericType):
            numeric.append(f_.name)
    return categorical, numeric


# ---------------------------------------------------------------------------
# F1 — StringIndexer (fit = groupBy-count + window rank; transform = join)
# ---------------------------------------------------------------------------


def fit_string_indexer(df: DataFrame, col: str) -> DataFrame:
    """Fit: model DataFrame ``(value, idx)``.

    Spark ML ``StringIndexer`` default order is frequencyDesc with ties
    broken by value ascending (matches ``StringIndexer.fit`` labels
    ordering); NULLs are excluded (Spark ML errors on them at transform
    under handleInvalid='error'; we simply don't index them).

    The rank is computed with a window over the *aggregated* counts —
    the window input is |distinct values| rows, not |data| rows, so the
    single-partition sort is over a tiny relation even at 100 TB.
    """
    counts = df.filter(F.col(col).isNotNull()).groupBy(F.col(col).alias("value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("value").asc())
    rank = F.row_number().over(w).cast("double")
    return counts.select("value", (rank - F.lit(1.0)).alias("idx"))


def apply_string_indexer(
    df: DataFrame, model: DataFrame, col: str, out_col: str, keep_invalid: bool = False
) -> DataFrame:
    """Transform: broadcast-join the (tiny) model onto the fact table.

    Unseen values (present at transform, absent at fit) become NULL idx
    when ``keep_invalid`` else the rows are dropped — Spark ML's
    handleInvalid='skip'. The join is explicitly broadcast: the model is
    O(cardinality) rows; the fact side never shuffles.
    """
    m = F.broadcast(model.withColumnRenamed("value", f"__siv_{col}").withColumnRenamed("idx", out_col))
    joined = df.join(m, df[col] == m[f"__siv_{col}"], "left").drop(f"__siv_{col}")
    if keep_invalid:
        return joined
    return joined.filter(F.col(out_col).isNotNull())


# ---------------------------------------------------------------------------
# F2 — OneHotEncoder (dropLast semantics)
# ---------------------------------------------------------------------------


def apply_one_hot(df: DataFrame, idx_col: str, out_col: str, size: int, drop_last: bool = True) -> DataFrame:
    """Index → indicator array. ``drop_last=True`` matches Spark ML's
    OneHotEncoder default: the last category (idx == size-1) encodes as
    all-zeros, giving size-1 slots. Pure column expression — no UDF, no
    shuffle; codegen-friendly.
    """
    width = size - 1 if drop_last else size
    arr = F.array(
        *[
            F.when(F.col(idx_col) == float(i), F.lit(1.0)).otherwise(F.lit(0.0))
            for i in range(width)
        ]
    )
    return df.withColumn(out_col, arr)


# ---------------------------------------------------------------------------
# F3 — Imputer (strategy=mean)
# ---------------------------------------------------------------------------


def fit_imputer_mean(df: DataFrame, cols: list[str]) -> dict[str, float]:
    """Fit: one aggregation job computing AVG over non-nulls per column
    (``Imputer`` default strategy=mean,
    ``/root/reference/utils/data_preprocessing.py:24``). Result is
    O(n_cols) scalars — safe to hold on the driver at any data scale.
    """
    row = df.agg(*[F.avg(F.col(c)).alias(c) for c in cols]).first()
    return {c: row[c] for c in cols}


def apply_imputer(df: DataFrame, means: dict[str, float]) -> DataFrame:
    """Transform: ``coalesce(col, lit(mean))`` per column — map-only."""
    out = df
    for c, m in means.items():
        out = out.withColumn(c, F.coalesce(F.col(c).cast("double"), F.lit(m)))
    return out


# ---------------------------------------------------------------------------
# F5 — StandardScaler (withMean=False, withStd=True — Spark ML defaults)
# ---------------------------------------------------------------------------


def fit_scaler(df: DataFrame, cols: list[str]) -> dict[str, tuple[float, float]]:
    """Fit: per-column (mean, sample stddev) in ONE aggregation job.

    Spark ML ``StandardScaler`` uses the *sample* standard deviation
    (n-1 denominator) — ``stddev_samp`` here, verified in tests.
    """
    aggs = []
    for c in cols:
        aggs.append(F.avg(c).alias(f"__m_{c}"))
        aggs.append(F.stddev_samp(c).alias(f"__s_{c}"))
    row = df.agg(*aggs).first()
    return {c: (row[f"__m_{c}"], row[f"__s_{c}"]) for c in cols}


def apply_scaler(
    df: DataFrame,
    stats: dict[str, tuple[float, float]],
    with_mean: bool = False,
    with_std: bool = True,
    suffix: str = "_scaled",
) -> DataFrame:
    """Transform: literal arithmetic per column; zero/NULL stddev passes
    the value through unscaled (Spark ML behavior for constant cols)."""
    out = df
    for c, (mean, std) in stats.items():
        expr = F.col(c).cast("double")
        if with_mean:
            expr = expr - F.lit(mean)
        if with_std and std is not None and std > 0.0:
            expr = expr / F.lit(std)
        out = out.withColumn(f"{c}{suffix}", expr)
    return out


# ---------------------------------------------------------------------------
# F4 — VectorAssembler (ArrayType twin)
# ---------------------------------------------------------------------------


def assemble_array(df: DataFrame, cols: list[str], out_col: str = "features") -> DataFrame:
    """Row-wise pack numeric columns into ``array<double>``.

    The reference uses ``VectorAssembler`` → ``VectorUDT``
    (``data_preprocessing.py:34,41-44``); we emit ``ArrayType(Double)``,
    which survives parquet and DuckDB (FIXTURES.md "Oracle notes") and
    converts losslessly to MLlib vectors at the model boundary
    (``ml/pipeline.py``). Pure projection — codegen, no shuffle.
    """
    return df.withColumn(out_col, F.array(*[F.col(c).cast("double") for c in cols]))


# ---------------------------------------------------------------------------
# F7 — fit-on-train pipeline
# ---------------------------------------------------------------------------


@dataclass
class FeaturePipelineModel:
    """Fitted state of :func:`fit_feature_pipeline` — all tiny except
    ``pca_model`` (an MLlib PCAModel: k×d principal axes, still small)."""

    numeric_cols: list[str]
    categorical_cols: list[str]
    means: dict[str, float]
    scaler_stats: dict[str, tuple[float, float]]
    # value→idx maps, applied as LITERAL map lookups (element_at over a
    # create_map literal): pure codegen, no join, no broadcast, and no
    # driver-local DataFrame whose parallelize+broadcast costs ~1 s per
    # model per fit. Right for the ≤ thousands-of-categories regime the
    # pipeline targets; a high-cardinality column should use the
    # standalone fit_string_indexer (broadcast-join model) instead —
    # a multi-MB literal in every task's plan is the wrong trade.
    cat_models: dict[str, dict[str, float]] = field(default_factory=dict)
    cat_sizes: dict[str, int] = field(default_factory=dict)
    label_model: dict[str, float] | None = None
    label_col: str | None = None
    pca_model: object | None = None
    pca_k: int | None = None

    @staticmethod
    def _lookup(col: str, mapping: dict[str, float]):
        if not mapping:
            return F.lit(None).cast("double")
        m = F.create_map(
            *[x for k, v in mapping.items() for x in (F.lit(k), F.lit(float(v)))]
        )
        return F.element_at(m, F.col(col).cast("string"))

    def transform(self, df: DataFrame, features_col: str = "features") -> DataFrame:
        """Apply the fitted pipeline: impute → scale → index → one-hot →
        assemble [→ PCA-project]. Map-only except the broadcast joins
        for indexers.

        With PCA fitted, the assembled array is projected by an
        Arrow-vectorized ``pandas_udf`` gemm (one ``X @ Wᵀ`` per Arrow
        batch) — the SAME judgment call as the Gramian fit pass
        (ml/pipeline.fit_pca_native): the expression-tree alternatives
        were both measured SLOWER at sf0.1 (100 k × 22 → 20), because
        a k·d dense product per row is BLAS work, not expression work:

        - structural (one-hot never materialized, per-categorical
          ``zip_with`` axis merge): 1.3–1.8 s — higher-order functions
          evaluate interpreted, outside whole-stage codegen;
        - per-axis codegen sums (k×d multiply-adds + element_at over
          constant literal arrays): 2.3–2.5 s — 700 codegen'd nodes
          per row still lose to one gemm;
        - assemble + Arrow gemm: 0.64–0.69 s, within noise of the
          assemble-only (no PCA) plan — the projection is ~free.

        The plan stays map-only (no join, no shuffle); the single
        ArrowEvalPython node is asserted by tests/test_explain.py.

        Driver latency (r11, guide §1.2, the r10 SQL-text cure): the
        stage-per-withColumn chain built ~97 single-column projections
        through the Column API — ~700 pyspark calls issuing ~10k py4j
        round trips, ~1.4 s of serial driver time per transform CALL
        at the UNSW width, at ANY data scale, before one row moves
        (cProfile: 1.1 s in py4j send_command).  The same expressions
        are now GENERATED AS SQL TEXT into two selectExpr calls + one
        conjunctive filter with exact withColumn semantics (replace in
        place, append in update order).  Every numeric literal embeds
        through ``sqltext.sql_double``, which constant-folds to the same
        IEEE double F.lit() embedded, so expression trees, filter conjunction, output schema, column
        order — and therefore every output bit — are unchanged
        (plan diff in plans/r11; oracle sweeps green)."""

        def q(n: str) -> str:
            return "`" + n.replace("`", "``") + "`"

        def slit(s: str) -> str:
            return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

        def lookup_sql(col: str, mapping) -> str:
            if not mapping:
                return sql_double(None)
            pairs = ", ".join(
                f"{slit(k)}, {sql_double(v)}" for k, v in mapping.items()
            )
            return f"element_at(map({pairs}), CAST({q(col)} AS STRING))"

        def merged(cols, updates):
            # withColumn-chain semantics in ONE select list: replace
            # an existing name in place, append new names in order
            names = list(cols)
            exprs = {c: q(c) for c in cols}
            for name, e in updates:
                if name not in exprs:
                    names.append(name)
                exprs[name] = e
            return [f"{exprs[n]} AS {q(n)}" for n in names]

        imp = {
            c: f"coalesce(CAST({q(c)} AS DOUBLE), {sql_double(m)})"
            for c, m in self.means.items()
        }
        upd1 = list(imp.items())
        for c, (_mean, std) in self.scaler_stats.items():
            # the scaler ran on the already-imputed column: inline it
            e = f"CAST({imp.get(c, q(c))} AS DOUBLE)"
            if std is not None and std > 0.0:
                e = f"({e} / {sql_double(std)})"
            upd1.append((f"{c}_scaled", e))
        for c in self.categorical_cols:
            # literal-map lookup; unseen values → NULL idx → row dropped
            # (Spark ML handleInvalid='skip' parity, same as the
            # broadcast-join primitive's keep_invalid=False)
            upd1.append((f"{c}_idx", lookup_sql(c, self.cat_models[c])))
        has_label = self.label_model is not None and self.label_col is not None
        if has_label:
            upd1.append(("label", lookup_sql(self.label_col, self.label_model)))
        out = df.selectExpr(*merged(df.columns, upd1))
        conds = [f"{q(c + '_idx')} IS NOT NULL" for c in self.categorical_cols]
        if has_label:
            conds.append("`label` IS NOT NULL")
        if conds:
            out = out.filter(" AND ".join(conds))
        upd2 = []
        for c in self.categorical_cols:
            width = self.cat_sizes[c] - 1  # apply_one_hot drop_last
            slots = ", ".join(
                f"CASE WHEN {q(c + '_idx')} = {sql_double(i)} THEN 1.0D ELSE 0.0D END"
                for i in range(width)
            )
            upd2.append((f"{c}_vec", f"array({slots})"))
        feature_cols = [f"{c}_scaled" for c in self.numeric_cols]
        upd2.append(
            (
                "numeric_features",
                "array(" + ", ".join(f"CAST({q(c)} AS DOUBLE)" for c in feature_cols) + ")",
            )
        )
        out = out.selectExpr(*merged(out.columns, upd2))
        # final assembly: scaled numerics ++ one-hot indicator arrays
        final = F.col("numeric_features")
        for c in self.categorical_cols:
            final = F.concat(final, F.col(f"{c}_vec"))
        if self.pca_model is None:
            return out.withColumn(features_col, final)
        # reference parity: the core pipeline ends with PCA(k=20)
        # (/root/reference/utils/data_preprocessing.py:47). Axis layout
        # matches the assembled order: scaled numerics, then
        # per-categorical one-hot slots (size-1, drop_last).
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        comps_t = np.array(self.pca_model.components, dtype=np.float64).T  # d×k

        @pandas_udf("array<double>")
        def _pca_project(a: pd.Series) -> pd.Series:
            if not len(a):
                return pd.Series([], dtype=object)
            x = np.array(a.tolist(), dtype=np.float64)
            return pd.Series(list(x @ comps_t))

        return out.withColumn(features_col, _pca_project(final))


def fit_feature_pipeline(
    train: DataFrame,
    label_col: str | None = None,
    reference_compat: bool = False,
    pca_k: int | None = None,
) -> FeaturePipelineModel:
    """Fit the reference's 9-stage feature pipeline, fit-on-train-only
    (the *correct* scoping at ``data_preprocessing.py:54-58``; the raw
    path's per-split refit bug at ``main.py:142-143`` is not cloned).

    Job layout — the part that matters at 100 TB, where every fit job
    is a full scan of the train split:

    ONE scan computes every pre-PCA fit statistic: all string-indexer
    counts (categoricals and the label) from a (col, value) melt, with
    the imputer means and post-impute scaler stddevs riding the same
    scan as observed metrics. Imputing a column with its own mean
    leaves the mean unchanged and contributes zero squared deviation,
    so the imputed sample variance is exactly
    ``var_nonnull · (n_nonnull − 1) / (n_total − 1)`` — no second pass
    over imputed data needed. The per-column frequencyDesc/value-asc
    rank is applied driver-side over the collected (tiny,
    Σ cardinalities) count set.

    With ``pca_k`` set, a second pass fits the PCA over the pipeline's
    own assembled output (``model.transform(train)``): the Arrow
    Gramian of ml/pipeline.fit_pca_native — one partial ``AᵀA`` gemm
    per Arrow batch, constant-size output, then an O(d³) driver
    eigensolve.

    This fit composes the math of the standalone F1/F3/F5 operators
    (fit_string_indexer, fit_imputer_mean, fit_scaler), not their
    one-job-per-stage form; tests/test_ml.py pins its statistics to
    theirs.
    """
    from pyspark.sql import Observation

    categorical, numeric = classify_columns(train, label_col, reference_compat)
    m = len(numeric)

    # --- ONE fit scan -----------------------------------------------------
    # The numeric moments ride the categorical-count scan as OBSERVED
    # metrics (CollectMetrics — evaluated once per input row, below the
    # melt), so the fit is one scan with no row-struct explosion.
    # Measured at m=42 (the UNSW shape): 1.7× faster than a struct-melt
    # form carrying the numerics; parity at m=6.
    fit_cols = list(categorical) + ([label_col] if label_col is not None else [])
    cat_counts: dict[str, list] = {c: [] for c in fit_cols}
    metrics = [F.count(F.lit(1)).alias("cnt")]
    for j, c in enumerate(numeric):
        x = F.col(c).cast("double")
        metrics += [
            F.count(x).alias(f"nn{j}"),
            F.avg(x).alias(f"avg{j}"),
            F.var_samp(x).alias(f"var{j}"),
        ]
    obs = Observation()
    observed = train.observe(obs, *metrics)
    if fit_cols:
        # cast keeps the melt array homogeneous; the pipeline's
        # categoricals/labels are strings by classification, so the
        # cast is a no-op for them
        pairs = observed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col"),
                            F.col(c).cast("string").alias("sval"),
                        )
                        for c in fit_cols
                    ]
                )
            ).alias("p")
        ).select("p.*")
        for r in (
            pairs.filter(F.col("sval").isNotNull())
            .groupBy("col", "sval")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        ):
            cat_counts[r["col"]].append((r["sval"], r["cnt"]))
    else:
        observed.select(F.lit(1)).count()  # drive the metrics
    try:
        g = obs.get
    except Exception:
        # an empty train (e.g. filter(lit(False))) optimizes to an
        # empty LocalRelation and the CollectMetrics node never fires —
        # degrade to None stats like the old train.agg().first() path
        g = None
    n_total = g["cnt"] if g is not None else 0
    if g is not None:
        means = {c: g[f"avg{j}"] for j, c in enumerate(numeric)}
        var_rows = {c: (g[f"var{j}"], g[f"nn{j}"]) for j, c in enumerate(numeric)}
    else:
        means = {c: None for c in numeric}
        var_rows = {c: (None, 0) for c in numeric}

    scaler_stats: dict[str, tuple[float, float]] = {}
    for c in numeric:
        var_nn, n_nn = var_rows[c]
        if var_nn is None or n_total <= 1:
            scaler_stats[c] = (means[c], None)
        else:
            var_imp = var_nn * (n_nn - 1) / (n_total - 1)
            scaler_stats[c] = (means[c], float(var_imp) ** 0.5)

    model = FeaturePipelineModel(
        numeric_cols=numeric,
        categorical_cols=categorical,
        means=means,
        scaler_stats=scaler_stats,
        label_col=label_col,
    )

    for c in fit_cols:
        # frequencyDesc, ties value-asc — same total order as the
        # fit_string_indexer window, applied driver-side over the
        # tiny per-column count set
        ordered = sorted(cat_counts[c], key=lambda vc: (-vc[1], vc[0]))
        mapping = {v: float(i) for i, (v, _) in enumerate(ordered)}
        if c == label_col:
            model.label_model = mapping
        else:
            model.cat_models[c] = mapping
            model.cat_sizes[c] = len(ordered)

    # --- PCA final stage --------------------------------------------------
    if pca_k is not None:
        from web_attack_detection_spark.ml.pipeline import fit_pca_native

        width = m + sum(s - 1 for s in model.cat_sizes.values())
        k = min(pca_k, width)
        assembled = model.transform(train, features_col="__fit_features")
        model.pca_model = fit_pca_native(assembled, "__fit_features", k, dim=width)
        model.pca_k = k
    return model
