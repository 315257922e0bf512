"""MLlib boundary: PCA, MLP classifier, evaluation (SURVEY.md §2.3-2.4).

The reference trains four Keras models on a driver-side pandas copy of
the whole dataset (``/root/reference/models/cnn_model.py:44-52`` and
clones) — the scalability cliff called out in SURVEY.md §3. Here the
model boundary stays in the cluster:

- features flow in as ``array<double>`` (oracle-checkable) and convert
  losslessly to ``VectorUDT`` via ``array_to_vector`` at the last step;
- ``MultilayerPerceptronClassifier`` is the Spark-native stand-in the
  reference itself points at (it imports the class and never uses it,
  ``cnn_model.py:1``) — distributed L-BFGS, no driver collect;
- PCA(k) via ``pyspark.ml.feature.PCA`` (RowMatrix SVD);
- evaluation is DataFrame aggregation (accuracy, confusion matrix,
  per-class precision/recall) — never sklearn-on-driver.

Keras CNN/RNN/LSTM (M2-M4) are deliberately out of engine scope
(SURVEY.md §7 phase 8): no TF in this image, and distributed DL
training is not a Spark-native capability. The seam for them is
``predict_batch_udf`` at inference time; the module raises a clear
error if asked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:
    from pyspark.ml.classification import MultilayerPerceptronClassifier
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    _HAVE_ML = True
except ImportError:  # pragma: no cover - pyspark.ml always present in image
    _HAVE_ML = False


def to_vector(df: DataFrame, array_col: str, vector_col: str = "features_vec") -> DataFrame:
    """array<double> → VectorUDT, the only place vectors appear."""
    return df.withColumn(vector_col, array_to_vector(F.col(array_col)))


def fit_pca(df: DataFrame, array_col: str, k: int):
    """PCA(k) on an array column (reference: k=20,
    ``/root/reference/utils/data_preprocessing.py:47``). Fit cost is a
    Gramian tree-aggregate — one pass, no shuffle of rows."""
    vdf = to_vector(df, array_col, "__pca_in")
    return PCA(k=k, inputCol="__pca_in", outputCol="__pca_out").fit(vdf)


def pca_project(model, df: DataFrame, array_col: str, out_col: str = "pca_features") -> DataFrame:
    vdf = to_vector(df, array_col, "__pca_in")
    return (
        model.transform(vdf)
        .withColumn(out_col, vector_to_array(F.col("__pca_out")))
        .drop("__pca_in", "__pca_out")
    )


class NativePCAModel:
    """Fitted native PCA: k principal axes + explained variance.

    ``components[j]`` is the j-th axis (length d); projection follows
    MLlib's convention (uncentered rows × components over the CENTERED
    covariance's eigenvectors), with a fixed sign convention (the
    largest-|loading| entry of each axis is positive) so results don't
    flip run-to-run the way SVD-sign-ambiguous outputs can.
    """

    def __init__(self, components: list[list[float]], explained: list[float]):
        self.components = components
        self.explainedVariance = explained  # MLlib-compatible name

    @property
    def k(self) -> int:
        return len(self.components)

    def project(self, df: DataFrame, array_col: str, out_col: str = "pca_features") -> DataFrame:
        """Row × axes as pure column expressions: k dot products of d
        terms each, all inside whole-stage codegen — map-only, no UDF,
        no vector conversion."""
        a = F.col(array_col)
        outs = []
        for axis in self.components:
            term = None
            for i, w in enumerate(axis):
                t = F.element_at(a, i + 1) * F.lit(float(w))
                term = t if term is None else term + t
            outs.append(term)
        return df.withColumn(out_col, F.array(*outs))


def fit_pca_native(df: DataFrame, array_col: str, k: int, dim: int | None = None) -> NativePCAModel:
    """Distributed PCA fit: one Gramian pass, driver-side eigensolve.

    MLlib's ``PCA.fit`` drops to the legacy RDD RowMatrix path
    (DataFrame→RDD[Vector] conversion + treeAggregate) — ~4 s for
    75k×22 at sf0.1, dominated by overhead. The obvious DataFrame
    restatement (one ``agg`` of d(d+1)/2 product sums) is ALSO slow,
    for a different reason: generating + janino-compiling O(d²)
    aggregate expressions costs seconds before a single row is read.
    This is the one spot where the Arrow path is genuinely the right
    plan, NOT a fallback:

    - ``mapInPandas`` computes a PARTIAL Gramian per Arrow batch —
      ``AᵀA`` is one BLAS gemm over the batch matrix, plus column sums
      and a count; each batch yields ONE constant-size row
      (n, s[d], g[d(d+1)/2]);
    - the driver sums the partials (numpy) and eigendecomposes the
      d×d covariance — O(d³) scalar work, exactly how RowMatrix's own
      ``computePrincipalComponents`` splits the labor.

    Scale shape: a map-only scan emitting |batches| tiny rows — the
    treeAggregate pattern — and it scales in d where expression-per-
    cell cannot (d=1000 → 500k aggregates is infeasible; a gemm per
    batch is routine).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    if dim is None:
        dim = len(df.select(array_col).first()[0])
    d = dim
    iu_r, iu_c = (x.tolist() for x in np.triu_indices(d))

    def gramian_partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        iu = (np.array(iu_r), np.array(iu_c))
        n = 0
        s = np.zeros(d, dtype=np.float64)
        g = np.zeros((d, d), dtype=np.float64)
        for pdf in it:
            if not len(pdf):
                continue
            a = np.array(pdf[array_col].tolist(), dtype=np.float64)
            n += a.shape[0]
            s += a.sum(axis=0)
            g += a.T @ a
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g[iu].tolist()]})

    parts = (
        df.select(array_col)
        .mapInPandas(gramian_partials, schema="n long, s array<double>, g array<double>")
        .collect()
    )
    if not parts:
        # an empty input can plan to ZERO partitions (empty
        # LocalRelation): no partials at all — degenerate model, same
        # as the n<=1 case below (ADVICE r3 empty-train guard)
        return pca_from_moments(0, np.zeros(d), np.zeros((d, d)), min(k, d))
    n = sum(p["n"] for p in parts)
    s = np.sum([np.array(p["s"]) for p in parts], axis=0)
    cross = np.zeros((d, d), dtype=np.float64)
    cross[(np.array(iu_r), np.array(iu_c))] = np.sum(
        [np.array(p["g"]) for p in parts], axis=0
    )
    cross = cross + cross.T - np.diag(np.diag(cross))
    return pca_from_moments(n, s, cross, k)


def pca_from_moments(n: int, s, cross, k: int) -> NativePCAModel:
    """Eigensolve from first/second moments: ``s = Σx`` (length d),
    ``cross = Σ x xᵀ`` (d×d), over n rows, as summed by the Arrow
    Gramian pass above — O(d³) driver work."""
    import numpy as np

    s = np.asarray(s, dtype=np.float64)
    cross = np.asarray(cross, dtype=np.float64)
    dim = len(s)
    if n <= 1:
        # degenerate fit (empty/singleton train): identity-prefix
        # components, zero explained variance — transform stays runnable
        comps = [
            [1.0 if i == j else 0.0 for i in range(dim)]
            for j in range(min(k, dim))
        ]
        return NativePCAModel(comps, [0.0] * min(k, dim))
    # sample covariance: (Σxᵢxⱼ − ΣxᵢΣxⱼ/n) / (n−1)
    cov = (cross - np.outer(s, s) / n) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    total = float(np.clip(vals, 0, None).sum()) or 1.0
    comps = []
    for j in range(min(k, dim)):
        v = vecs[:, j]
        if v[int(np.argmax(np.abs(v)))] < 0:  # sign convention
            v = -v
        comps.append([float(x) for x in v])
    explained = [float(max(vals[j], 0.0)) / total for j in range(min(k, dim))]
    return NativePCAModel(comps, explained)


def fit_mlp(
    train: DataFrame,
    array_col: str,
    label_col: str,
    hidden: tuple[int, ...] = (16, 8),
    n_features: int | None = None,
    n_classes: int | None = None,
    seed: int = 42,
    max_iter: int = 60,
):
    """MultilayerPerceptronClassifier on array features (M1).

    Layer sizes mirror the reference MLP's Dense stack shape
    (``/root/reference/models/mlp_model.py:17-34``, 256→128→64)
    scaled to fixture size. ``n_classes`` defaults to the GLOBAL
    distinct-label count — fixing the reference's train-only class
    inference bug (``mlp_model.py:61``, SURVEY.md §3)."""
    vdf = to_vector(train, array_col, "__mlp_in")
    if n_features is None:
        n_features = len(vdf.select(array_col).first()[0])
    if n_classes is None:
        n_classes = vdf.agg(F.countDistinct(label_col)).first()[0]
    layers = [n_features, *hidden, n_classes]
    mlp = MultilayerPerceptronClassifier(
        layers=layers,
        featuresCol="__mlp_in",
        labelCol=label_col,
        seed=seed,
        maxIter=max_iter,
    )
    return mlp.fit(vdf)


def predict(model, df: DataFrame, array_col: str) -> DataFrame:
    """model.transform — executor-side row-wise inference (M6)."""
    vdf = to_vector(df, array_col, "__mlp_in")
    return model.transform(vdf).drop("__mlp_in")


# ---------------------------------------------------------------------------
# evaluation (M5, V4, per-class metrics) — all DataFrame aggregations
# ---------------------------------------------------------------------------


def accuracy(df: DataFrame, label_col: str = "label", pred_col: str = "prediction") -> DataFrame:
    """accuracy = AVG(label == prediction) — the oracle twin of
    MulticlassClassificationEvaluator(metricName='accuracy')."""
    return df.agg(
        F.round(
            F.sum(F.when(F.col(label_col) == F.col(pred_col), 1.0).otherwise(0.0))
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy")
    )


def confusion_matrix(
    df: DataFrame, label_col: str = "label", pred_col: str = "prediction"
) -> DataFrame:
    """|classes|² output rows regardless of data size (V4)."""
    return df.groupBy(
        F.col(label_col).alias("label"), F.col(pred_col).alias("prediction")
    ).agg(F.count(F.lit(1)).alias("n"))


def per_class_metrics(
    df: DataFrame, label_col: str = "label", pred_col: str = "prediction"
) -> DataFrame:
    """Per-class precision/recall/F1 from ONE confusion-matrix pass —
    tp/fp/fn as conditional sums grouped by class, exact rational
    arithmetic (engine-portable)."""
    cm = confusion_matrix(df, label_col, pred_col)
    per_label = cm.groupBy("label").agg(F.sum("n").alias("n_true"))
    per_pred = cm.groupBy("prediction").agg(F.sum("n").alias("n_pred"))
    tp = cm.filter(F.col("label") == F.col("prediction")).select(
        "label", F.col("n").alias("tp")
    )
    out = (
        per_label.join(tp, "label", "left")
        .join(per_pred, per_label.label == per_pred.prediction, "left")
        .select(
            "label",
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
            "n_true",
            F.coalesce(F.col("n_pred"), F.lit(0)).alias("n_pred"),
        )
    )
    precision = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).otherwise(0.0)
    recall = F.when(F.col("n_true") > 0, F.col("tp") / F.col("n_true")).otherwise(0.0)
    return out.select(
        "label",
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(
            F.when(
                (precision + recall) > 0, 2 * precision * recall / (precision + recall)
            ).otherwise(0.0),
            6,
        ).alias("f1"),
    )
