"""ML semantics the oracle can't check: PCA variance ordering, MLP
learnability on a separable problem, evaluator correctness on a
hand-computed case."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_attack_detection_spark.ml.pipeline import (
    accuracy,
    confusion_matrix,
    fit_mlp,
    fit_pca,
    pca_project,
    per_class_metrics,
    predict,
)


def test_pca_variance_ordering(spark):
    """Explained variance must be non-increasing and sum ≤ 1."""
    from web_attack_detection_spark.io.sources import load_table
    from .conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        F.array(
            F.col("l_quantity").cast("double"),
            F.col("l_extendedprice").cast("double"),
            F.col("l_discount").cast("double"),
            F.col("l_tax").cast("double"),
        ).alias("feats")
    )
    model = fit_pca(li, "feats", k=4)
    ev = list(model.explainedVariance)
    assert all(ev[i] >= ev[i + 1] - 1e-12 for i in range(len(ev) - 1))
    assert abs(sum(ev) - 1.0) < 1e-6
    projected = pca_project(model, li, "feats")
    assert len(projected.first()["pca_features"]) == 4


def test_flagship_pipeline_pca_projection(spark):
    """The flagship DAG ends in the reference's PCA stage
    (data_preprocessing.py:47): output dims == min(20, assembled width),
    rows preserved, and the fitted model's variance ordering holds."""
    from web_attack_detection_spark.functions.feature import fit_feature_pipeline
    from web_attack_detection_spark.io.sources import load_table
    from web_attack_detection_spark.plans.flagship import flagship_pipeline
    from .conftest import SF_SMOKE

    out = flagship_pipeline(spark, SF_SMOKE)
    events = load_table(spark, SF_SMOKE, "events")
    n_rows = events.count()
    first = out.first()
    width_pre = len(
        flagship_pipeline(spark, SF_SMOKE, pca_k=None).first()["features"]
    )
    assert len(first["features"]) == min(20, width_pre)
    assert out.count() == n_rows

    # variance ordering on the pipeline-fitted model itself
    train = events.drop("props").filter(F.col("event_id") % 4 != 1).drop("ts")
    model = fit_feature_pipeline(train, label_col="event_type", pca_k=20)
    ev = list(model.pca_model.explainedVariance)
    assert len(ev) == model.pca_k
    assert all(ev[i] >= ev[i + 1] - 1e-12 for i in range(len(ev) - 1))
    assert sum(ev) <= 1.0 + 1e-6


def test_mlp_learns_separable(spark):
    """A linearly separable 2-class problem must reach ≥95% accuracy."""
    rows = [(float(i % 2), [float(i % 2) * 2 - 1, float((i * 7) % 5) / 5]) for i in range(400)]
    df = spark.createDataFrame(rows, "label double, features array<double>")
    model = fit_mlp(df, "features", "label", hidden=(4,), seed=7, max_iter=60)
    scored = predict(model, df, "features")
    acc = accuracy(scored).first()["accuracy"]
    assert acc >= 0.95, acc


def test_evaluators_hand_computed(spark):
    # labels: a a a b b ; preds: a b a b a
    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("a", "a"), ("b", "b"), ("b", "a")],
        "label string, prediction string",
    )
    assert accuracy(df).first()["accuracy"] == pytest.approx(0.6)
    cm = {(r["label"], r["prediction"]): r["n"] for r in confusion_matrix(df).collect()}
    assert cm == {("a", "a"): 2, ("a", "b"): 1, ("b", "b"): 1, ("b", "a"): 1}
    m = {r["label"]: r for r in per_class_metrics(df).collect()}
    assert m["a"]["precision"] == pytest.approx(2 / 3)
    assert m["a"]["recall"] == pytest.approx(2 / 3)
    assert m["b"]["precision"] == pytest.approx(1 / 2)
    assert m["b"]["recall"] == pytest.approx(1 / 2)


def test_sequence_nets_forward_properties():
    """Architecture forwards (ml/nets.py) are valid probability maps,
    deterministic under reseeding, and batch-shape independent (batch
    of 8 == two batches of 4 — the property predict_batch_udf's
    arbitrary Arrow batching relies on)."""
    import numpy as np

    from web_attack_detection_spark.ml import nets

    rng = np.random.default_rng(7)
    x = rng.standard_normal((8, 64))
    for fwd, params in [
        (nets.cnn_forward, nets.seeded_cnn_params(64, 4)),
        (nets.rnn_forward, nets.seeded_rnn_params(4)),
        (nets.lstm_forward, nets.seeded_lstm_params(4)),
    ]:
        p = fwd(x, params)
        assert p.shape == (8, 4)
        assert np.allclose(p.sum(axis=1), 1.0)
        assert (p > 0).all()
        # batch-shape independence up to BLAS kernel choice: matmul
        # picks different kernels for different batch shapes, so rows
        # can differ in the last ulp — but no more (this is why the
        # registry queries round to 1e-6 before aggregating: Arrow
        # batch boundaries must not change the rounded output)
        p2 = np.vstack([fwd(x[:4], params), fwd(x[4:], params)])
        assert np.allclose(p, p2, rtol=0, atol=1e-12)
        # seeded determinism
        assert np.array_equal(p, fwd(x, params))


def test_sequence_infer_queries_distributed(spark):
    """The M2-M4 inference queries run executor-side (ArrowEvalPython
    in the plan), produce a deterministic per-class distribution, and
    cover every input row."""
    import contextlib
    import io

    from web_attack_detection_spark.io.sources import load_table
    from web_attack_detection_spark.plans.mlq import ml_cnn_infer, ml_lstm_infer, ml_rnn_infer
    from .conftest import SF_SMOKE

    n_rows = load_table(spark, SF_SMOKE, "embeddings").count()
    for q in (ml_cnn_infer, ml_rnn_infer, ml_lstm_infer):
        df = q(spark, SF_SMOKE)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("extended")
        assert "ArrowEvalPython" in buf.getvalue()
        rows = df.collect()
        assert sum(r["n"] for r in rows) == n_rows
        again = {(r["prediction"], r["n"], r["prob_mass"]) for r in q(spark, SF_SMOKE).collect()}
        assert {(r["prediction"], r["n"], r["prob_mass"]) for r in rows} == again


def test_fused_fit_matches_standalone_primitives(spark):
    """The round-3 single-scan fused fit must produce bit-identical
    statistics to the oracle-checked standalone F1/F3/F5 operators,
    including the degenerate shapes (numeric-only, categorical-only,
    all-null column)."""
    from web_attack_detection_spark.functions.feature import (
        fit_feature_pipeline,
        fit_imputer_mean,
        fit_scaler,
        fit_string_indexer,
    )
    from web_attack_detection_spark.io.sources import load_table
    from .conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id",
        "value",
        F.get_json_object("props", "$.k").cast("double").alias("k"),
        "event_type",
        F.lit(None).cast("double").alias("all_null"),
    )

    fp = fit_feature_pipeline(ev, label_col="event_type")
    # imputer means match the standalone fit exactly
    means = fit_imputer_mean(ev, ["event_id", "value", "k", "all_null"])
    for c in ["event_id", "value", "k"]:
        assert fp.means[c] == means[c]
    assert fp.means["all_null"] is None
    assert fp.scaler_stats["all_null"][1] is None
    # label mapping matches the standalone frequencyDesc indexer
    si = {r["value"]: r["idx"] for r in fit_string_indexer(ev, "event_type").collect()}
    assert fp.label_model == si
    # scaler: no-null column ⇒ imputed stddev == plain sample stddev
    plain = fit_scaler(ev, ["value"])["value"]
    assert abs(fp.scaler_stats["value"][1] - plain[1]) < 1e-12

    # numeric-only frame (no categoricals, no label)
    num_only = fit_feature_pipeline(ev.select("event_id", "value"))
    assert num_only.cat_models == {} and num_only.label_model is None
    assert set(num_only.means) == {"event_id", "value"}

    # categorical-only frame (no numerics): n_total recovered from the
    # categorical groups, transform still total
    cat_only = fit_feature_pipeline(
        ev.select("event_type", F.pmod("event_id", F.lit(3)).cast("string").alias("shard")),
        label_col="event_type",
    )
    assert cat_only.numeric_cols == []
    assert set(cat_only.cat_models) == {"shard"}
    out = cat_only.transform(
        ev.select("event_type", F.pmod("event_id", F.lit(3)).cast("string").alias("shard"))
    )
    assert out.count() > 0 and "label" in out.columns


def test_fused_fit_empty_train_split(spark):
    """ADVICE r3: an EMPTY train split never fires the fit scan's
    observed metrics; the fit must degrade to None stats (like the old
    train.agg().first() path) instead of raising TypeError."""
    from web_attack_detection_spark.functions.feature import fit_feature_pipeline
    from web_attack_detection_spark.io.sources import load_table
    from .conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "value", "event_type"
    )
    empty = ev.filter(F.lit(False))
    fp = fit_feature_pipeline(empty, label_col="event_type", pca_k=3)
    assert fp.means["value"] is None
    assert fp.scaler_stats["value"][1] is None
    assert fp.label_model == {}
    # transform of the full frame stays runnable (lookups drop all
    # rows — the label has no fitted vocabulary)
    assert fp.transform(ev).count() == 0


def test_pipeline_pca_matches_mllib_pca(spark):
    """The pipeline's PCA stage must agree with MLlib's RowMatrix PCA
    (the reference's ``PCA(k=20)``) fitted over the same pre-PCA
    assembled features, up to per-axis sign — including planted
    numeric nulls (imputer path) and null categoricals/labels (rows
    the transform's lookups drop before the PCA fit)."""
    import numpy as np

    from web_attack_detection_spark.functions.feature import fit_feature_pipeline
    from web_attack_detection_spark.io.sources import load_table
    from web_attack_detection_spark.plans.flagship import derive_wide_events
    from .conftest import SF_SMOKE

    ev = derive_wide_events(load_table(spark, SF_SMOKE, "events"))
    train = ev.filter(F.col("event_id") % 4 != 1)
    hostile = (
        train.withColumn(
            "k", F.when(F.col("event_id") % 5 == 0, None).otherwise(F.col("k"))
        )
        .withColumn(
            "dow", F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("dow"))
        )
        .withColumn(
            "event_type",
            F.when(F.col("event_id") % 11 == 0, None).otherwise(F.col("event_type")),
        )
    )
    for df in (train, hostile):
        model = fit_feature_pipeline(df, label_col="event_type", pca_k=10)
        pre = fit_feature_pipeline(df, label_col="event_type")
        ml = fit_pca(pre.transform(df).select("features"), "features", model.pca_k)
        cn = np.array(model.pca_model.components)
        cm = ml.pc.toArray().T
        sign = np.sign(np.sum(cn * cm, axis=1))[:, None]
        assert np.abs(cn - sign * cm).max() < 1e-9
        en = np.array(model.pca_model.explainedVariance)
        em = ml.explainedVariance.toArray()
        assert np.abs(en - em).max() < 1e-12


def test_mlp_weights_roundtrip_parity(spark):
    """VERDICT r3 #4: train-in-MLlib → export layer weights → numpy
    forward via predict_batch_udf must agree with model.transform
    row-for-row (argmax) and bit-tightly on probabilities."""
    from web_attack_detection_spark.plans.mlq import ml_mlp_weights_roundtrip
    from .conftest import SF_SMOKE

    r = ml_mlp_weights_roundtrip(spark, SF_SMOKE).collect()[0]
    assert r["n_rows"] > 0
    assert r["n_pred_agree"] == r["n_rows"]
    assert r["max_abs_prob_delta"] < 1e-12


def test_mlp_params_unpack_shapes(spark):
    """The unpacked (W, b) shapes must tile the flat MLlib weight
    vector exactly (the in-function assert), and the forward must be
    deterministic for a fixed batch."""
    import numpy as np

    from web_attack_detection_spark.ml.nets import mlp_forward

    params = {
        "layers": [4, 3, 2],
        "affine": [
            (np.ones((3, 4)), np.zeros(3)),
            (np.ones((2, 3)), np.zeros(2)),
        ],
    }
    out = mlp_forward(np.ones((5, 4)), params)
    assert out.shape == (5, 2)
    assert np.allclose(out.sum(axis=1), 1.0)
    assert np.allclose(out, mlp_forward(np.ones((5, 4)), params))


def test_roc_auc_matches_pair_counting(spark):
    """The rank-sum AUC must equal brute-force pair counting
    (wins + 0.5*ties) / (P*N) — the definition — on real fixture data."""
    import numpy as np
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    row = QUERIES["ml_roc_auc"].fn(spark, sf).collect()[0]
    ks_row = QUERIES["ml_ks_statistic"].fn(spark, sf).collect()[0]

    pdf = pd.read_parquet(f"{sf}/events.parquet")
    pos = pdf["event_type"] == "error"
    s = (
        3 * (pdf["user_id"] % 97)
        - (pdf["value"] * 100).round().astype("int64") // 50
    ).to_numpy()
    sp, sn = s[pos.to_numpy()], s[~pos.to_numpy()]
    wins = (sp[:, None] > sn[None, :]).sum()
    ties = (sp[:, None] == sn[None, :]).sum()
    auc = (wins + 0.5 * ties) / (len(sp) * len(sn))
    assert row["n_pos"] == len(sp) and row["n_neg"] == len(sn)
    assert abs(row["auc"] - round(auc, 6)) < 1e-9, (row["auc"], auc)

    # KS from brute-force CDFs over all observed thresholds
    thr = np.unique(s)
    cp = (sp[:, None] <= thr[None, :]).mean(axis=0)
    cn = (sn[:, None] <= thr[None, :]).mean(axis=0)
    ks = np.abs(cp - cn).max()
    assert abs(ks_row["ks"] - round(ks, 6)) < 1e-9, (ks_row["ks"], ks)


def test_winnowing_guarantee_and_oracle(spark):
    """Winnowing's matching guarantee: any shared run of >= w+k-1 = 6
    tokens between two documents yields at least one shared selected
    fingerprint. Planted: doc pairs share a 6-token phrase embedded in
    otherwise-distinct text; unrelated docs share nothing."""
    from pyspark.sql import functions as F

    from web_attack_detection_spark.plans.text4 import winnow_pair_report

    shared = "alpha bravo charlie delta echo foxtrot"
    rows = [
        (1, f"one unique opening {shared} and a tail of words here"),
        (2, f"totally different preamble text {shared} closing remarks now"),
        (3, "no overlap at all in this document body whatsoever truly"),
        (4, "another disjoint text with its own vocabulary entirely separate"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in winnow_pair_report(docs, min_shared=1).collect()
    }
    assert (1, 2) in pairs, pairs  # the guarantee
    assert (3, 4) not in pairs, pairs
    assert all(a in (1, 2) and b in (1, 2) for a, b in pairs), pairs


def test_roc_curve_integrates_to_auc(spark):
    """Trapezoidal area under the (fpr, tpr) curve equals the
    tie-corrected rank-sum AUC — an exact mathematical identity, so
    they must agree to rounding noise; curves must be monotone."""
    import numpy as np

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    auc = QUERIES["ml_roc_auc"].fn(spark, sf).collect()[0]["auc"]
    curve = (
        QUERIES["ml_roc_curve"].fn(spark, sf).orderBy("threshold").collect()
    )
    tpr = np.array([1.0] + [r["tpr"] for r in curve])  # t=-inf endpoint
    fpr = np.array([1.0] + [r["fpr"] for r in curve])
    assert np.all(np.diff(tpr) <= 0) and np.all(np.diff(fpr) <= 0)
    area = float(np.trapz(tpr[::-1], fpr[::-1]))
    assert abs(area - auc) < 1e-4, (area, auc)


def test_average_precision_matches_step_rule(spark):
    """AP from the grouped-score relation must equal the brute-force
    step rule AP = sum_k (R_k - R_{k-1}) * P_k over thresholds taken
    in descending score order (the sklearn definition)."""
    import numpy as np
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    row = QUERIES["ml_average_precision"].fn(spark, sf).collect()[0]

    pdf = pd.read_parquet(f"{sf}/events.parquet")
    pos = (pdf["event_type"] == "error").to_numpy()
    s = (
        3 * (pdf["user_id"] % 97)
        - (pdf["value"] * 100).round().astype("int64") // 50
    ).to_numpy()
    P = int(pos.sum())
    ap, r_prev = 0.0, 0.0
    for t in np.unique(s)[::-1]:  # descending thresholds
        flag = s >= t
        tp = int((flag & pos).sum())
        fp = int((flag & ~pos).sum())
        r, p = tp / P, tp / (tp + fp)
        ap += (r - r_prev) * p
        r_prev = r
    assert row["n_pos"] == P
    assert abs(row["average_precision"] - round(ap, 6)) < 1e-9, (
        row["average_precision"],
        ap,
    )
    assert abs(row["prevalence"] - round(P / len(s), 6)) < 1e-9


def test_calibration_bins_exact_and_ece(spark):
    """Bin populations partition the corpus; per-bin values match a
    float recomputation; sum(ece_part) IS the expected calibration
    error of the min-max-normalized score."""
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    bins = QUERIES["ml_calibration_bins"].fn(spark, sf).collect()

    pdf = pd.read_parquet(f"{sf}/events.parquet")
    pos = (pdf["event_type"] == "error").to_numpy()
    s = (
        3 * (pdf["user_id"] % 97)
        - (pdf["value"] * 100).round().astype("int64") // 50
    ).to_numpy()
    smin, smax = int(s.min()), int(s.max())
    nt, rng = len(s), smax - smin
    b = (s - smin) * 10 // (rng + 1)
    ece = 0.0
    assert sum(r["n"] for r in bins) == nt
    for r in bins:
        mask = b == r["bin"]
        n = int(mask.sum())
        assert r["n"] == n and r["n_pos"] == int(pos[mask].sum())
        avg_pred = (s[mask] - smin).sum() / (n * rng)
        assert abs(r["avg_pred"] - round(avg_pred, 6)) < 1e-9
        gap = abs(avg_pred - pos[mask].mean()) * n / nt
        ece += gap
        assert abs(r["ece_part"] - gap) < 2e-6
    assert 0.0 <= sum(r["ece_part"] for r in bins) <= 1.0
    assert abs(sum(r["ece_part"] for r in bins) - ece) < 1e-4


def test_chi2_matches_contingency(spark):
    """The binary-label collapse chi2 = sum D^2/row / (P*N) must equal
    the textbook sum over (O-E)^2/E cells of the 2 x k table."""
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = {r["feature"]: r for r in QUERIES["ml_chi2_features"].fn(spark, sf).collect()}

    pdf = pd.read_parquet(f"{sf}/events.parquet")
    y = (pdf["event_type"] == "error").astype(int)
    feats = {
        "u_mod7": (pdf["user_id"] % 7).astype(str),
        "value_bin": ((pdf["value"] * 100).round().astype("int64") // 5000).astype(str),
        "props_len_mod8": (pdf["props"].str.len() % 8).astype(str),
    }
    for name, cat in feats.items():
        tab = pd.crosstab(cat, y)
        n_tot = tab.values.sum()
        chi2 = 0.0
        for c in tab.index:
            row_tot = tab.loc[c].sum()
            for lab in tab.columns:
                o = tab.loc[c, lab]
                e = row_tot * tab[lab].sum() / n_tot
                chi2 += (o - e) ** 2 / e
        r = rows[name]
        assert r["n_cats"] == len(tab.index) and r["dof"] == len(tab.index) - 1
        assert abs(r["chi2"] - round(chi2, 6)) < 1e-4, (name, r["chi2"], chi2)


def test_anomaly_zscore_matches_exact_int(spark):
    """The DECIMAL(38,0) rearrangement must reproduce arbitrary-
    precision python-int evaluation of (n*v-S)^2*(n-1) > 9*n*(n*Q-S^2),
    and agree with the float 3-sigma rule away from knife edges."""
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {r["user_id"]: r for r in QUERIES["ml_anomaly_zscore"].fn(spark, sf).collect()}

    pdf = pd.read_parquet(f"{sf}/events.parquet")
    v = (pdf["value"] * 100).round().astype("int64")
    for uid, grp in v.groupby(pdf["user_id"]):
        vals = [int(x) for x in grp]
        n, S, Q = len(vals), sum(vals), sum(x * x for x in vals)
        n_anom = sum(
            1 for x in vals if (n * x - S) ** 2 * (n - 1) > 9 * n * (n * Q - S * S)
        )
        assert got[uid]["n"] == n and got[uid]["n_anom"] == n_anom, uid
        assert abs(got[uid]["anomaly_rate"] - round(n_anom / n, 6)) < 1e-9


def test_psi_drift_near_zero_on_parity_split(spark):
    """An interleaved rank-parity split draws both halves from the
    same distribution, so PSI must be tiny (and non-negative — PSI is
    a symmetrized KL)."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    row = QUERIES["ml_psi_drift"].fn(spark, "/root/testdata/sf0.001").collect()[0]
    assert abs(row["n_ref"] - row["n_cur"]) <= 1
    assert row["n_bins"] >= 5
    assert 0.0 <= row["psi"] < 0.05, row["psi"]


def test_markov_transitions_stochastic(spark):
    """Each from_type row of the transition matrix must sum to
    probability ~1 and to exactly (transitions out of that type);
    total transitions = n_events - n_users."""
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["rel_markov_transitions"].fn(spark, sf).collect()
    pdf = pd.read_parquet(f"{sf}/events.parquet")
    assert sum(r["n"] for r in rows) == len(pdf) - pdf["user_id"].nunique()
    by_from = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r)
    assert set(by_from) == set(pdf["event_type"].unique())
    for ft, rs in by_from.items():
        assert abs(sum(r["p"] for r in rs) - 1.0) < 1e-4, ft


def test_cost_threshold_is_argmin(spark):
    """The chosen operating point must have the minimum cost over the
    full brute-force threshold sweep (cost = 1*fp + 5*fn), with the
    smallest-threshold tie-break."""
    import numpy as np
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    row = QUERIES["ml_cost_threshold"].fn(spark, sf).collect()[0]

    pdf = pd.read_parquet(f"{sf}/events.parquet")
    pos = (pdf["event_type"] == "error").to_numpy()
    s = (
        3 * (pdf["user_id"] % 97)
        - (pdf["value"] * 100).round().astype("int64") // 50
    ).to_numpy()
    best = None
    for t in np.unique(s):
        flag = s > t
        fp = int((flag & ~pos).sum())
        fn = int((~flag & pos).sum())
        cost = 1 * fp + 5 * fn
        if best is None or cost < best[1]:
            best = (int(t), cost, fp, fn)
    assert row["cost"] == best[1]
    assert row["threshold"] == best[0]
    assert row["fp"] == best[2] and row["fn"] == best[3]
    assert row["tp"] + row["fn"] == int(pos.sum())
    assert row["fp"] + row["tn"] == int((~pos).sum())


def test_mixture_schedule_apportions_exactly(spark):
    """Largest-remainder allocations are integers summing exactly to
    the epoch size, each within 1 of the real-valued quota."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    rows = QUERIES["pipe_mixture_schedule"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20
    assert sum(r["alloc"] for r in rows) == 1000
    wt = sum(r["weight"] for r in rows)
    for r in rows:
        exact = 1000 * r["weight"] / wt
        assert r["quota"] == int(exact)
        assert abs(r["alloc"] - exact) < 1.0
        assert r["extra"] in (0, 1)


def test_sequence_motifs_totals(spark):
    """Trigram counts across ALL motifs equal sum over users of
    max(0, n_events - 2); the top-15 is rank-consistent."""
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        QUERIES["rel_sequence_motifs"].fn(spark, sf).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    ns = [r["n"] for r in rows]
    assert all(a >= b for a, b in zip(ns, ns[1:]))
    pdf = pd.read_parquet(f"{sf}/events.parquet")
    total_tri = sum(max(0, n - 2) for n in pdf.groupby("user_id").size())
    assert sum(ns) <= total_tri  # top-15 is a subset of all motifs
    assert len(rows) == 15


def test_gbt_and_als_shapes(spark):
    """GBT: one row, accuracy within [0,1], split sizes match the 3:1
    event_id rule, and the self-audit columns prove a real ensemble
    (10 trees, non-stump nodes, features actually consumed). ALS:
    leave-one-out hit-rate@2 summary — evaluable-user count matches
    pandas, hit counts bounded by the population."""
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    g = QUERIES["ml_gbt_train_eval"].fn(spark, sf).collect()
    assert len(g) == 1
    r = g[0]
    assert 0.0 <= r["accuracy"] <= 1.0 and 0.0 <= r["majority_baseline"] <= 1.0
    pdf = pd.read_parquet(f"{sf}/events.parquet")
    assert r["n_train"] == int((pdf["event_id"] % 4 != 1).sum())
    assert r["n_test"] == int((pdf["event_id"] % 4 == 1).sum())
    assert r["n_trees"] == 10  # maxIter ran to completion
    assert r["total_nodes"] > r["n_trees"]  # non-stump trees
    assert r["n_features_used"] >= 1  # splits consumed real features

    a = QUERIES["ml_als_recommend"].fn(spark, sf).collect()
    assert len(a) == 1
    row = a[0]
    n_multi = int((pdf.groupby("user_id")["event_type"].nunique() >= 2).sum())
    assert row["n_users"] == n_multi
    assert 0 <= row["exact_hits"] <= row["n_users"]
    assert 0 <= row["pop_hits"] <= row["n_users"]
    assert 0.0 <= row["exact_hit_rate"] <= 1.0
    assert 0.0 <= row["pop_hit_rate"] <= 1.0
    assert row["audit_mllib_hit_parity"] is True


def test_feature_attribution_matches_numpy(spark):
    """Each feature's mean contribution and mean absolute deviation
    must match a float recomputation of the linear scorer's terms."""
    import numpy as np
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = {r["feature"]: r for r in QUERIES["ml_feature_attribution"].fn(spark, sf).collect()}
    pdf = pd.read_parquet(f"{sf}/events.parquet")
    terms = {
        "len_term": 7 * pdf["event_type"].str.len(),
        "user_term": 3 * (pdf["user_id"] % 97),
        "value_term": -((pdf["value"] * 100).round().astype("int64") // 50),
    }
    assert set(rows) == set(terms)
    for name, t in terms.items():
        t = t.to_numpy(dtype="float64")
        r = rows[name]
        assert r["n"] == len(t)
        assert abs(r["mean_contrib"] - round(float(t.mean()), 6)) < 1e-6
        assert abs(r["mean_abs_dev"] - round(float(np.abs(t - t.mean()).mean()), 6)) < 1e-6
    # value_term drives the score on this fixture (widest spread)
    assert rows["value_term"]["mean_abs_dev"] == max(
        r["mean_abs_dev"] for r in rows.values()
    )


def test_subgroup_fairness_consistent_with_cost_threshold(spark):
    """The audit's implicit threshold must be ml_cost_threshold's:
    summing per-group fp/fn reproduces the chosen operating point's
    global confusion counts; rates are exact per-group ratios."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    opt = QUERIES["ml_cost_threshold"].fn(spark, sf).collect()[0]
    groups = QUERIES["ml_subgroup_fairness"].fn(spark, sf).collect()
    assert len(groups) == 5
    assert sum(g["fp"] for g in groups) == opt["fp"]
    assert sum(g["fn"] for g in groups) == opt["fn"]
    assert sum(g["n_pos"] for g in groups) == opt["tp"] + opt["fn"]
    for g in groups:
        assert abs(g["fpr"] - round(g["fp"] / g["n_neg"], 6)) < 1e-9
        assert abs(g["fnr"] - round(g["fn"] / g["n_pos"], 6)) < 1e-9


def test_tpr_at_fpr_budgets_brute(spark):
    """Each budget row must be the true argmax-TP feasible threshold
    from a brute-force sweep under the integer feasibility rule."""
    import numpy as np
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = {r["fpr_pct"]: r for r in QUERIES["ml_tpr_at_fpr"].fn(spark, sf).collect()}
    pdf = pd.read_parquet(f"{sf}/events.parquet")
    pos = (pdf["event_type"] == "error").to_numpy()
    s = (
        3 * (pdf["user_id"] % 97)
        - (pdf["value"] * 100).round().astype("int64") // 50
    ).to_numpy()
    N = int((~pos).sum())
    assert set(rows) == {1, 5, 10}
    for pct, r in rows.items():
        best = None
        for t in np.unique(s):
            flag = s > t
            fp = int((flag & ~pos).sum())
            tp = int((flag & pos).sum())
            if fp * 100 <= N * pct and (best is None or tp > best[0]):
                best = (tp, int(t), fp)
        assert (r["tp"], r["threshold"], r["fp"]) == best, (pct, r, best)
        # budget actually respected
        assert r["fp"] * 100 <= N * pct


def test_mcc_summary_identities(spark):
    """MCC/F1/balanced-acc/Youden at the cost threshold must satisfy
    their defining identities on the reported confusion counts and
    agree with ml_cost_threshold's operating point."""
    import math

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    r = QUERIES["ml_mcc_summary"].fn(spark, sf).collect()[0]
    opt = QUERIES["ml_cost_threshold"].fn(spark, sf).collect()[0]
    assert (r["threshold"], r["tp"], r["fp"], r["fn"], r["tn"]) == (
        opt["threshold"], opt["tp"], opt["fp"], opt["fn"], opt["tn"],
    )
    tp, fp, fn, tn = r["tp"], r["fp"], r["fn"], r["tn"]
    mcc = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    assert abs(r["mcc"] - round(mcc, 6)) < 1e-9
    assert abs(r["f1"] - round(2 * tp / (2 * tp + fp + fn), 6)) < 1e-9
    tpr, tnr = tp / (tp + fn), tn / (tn + fp)
    assert abs(r["balanced_acc"] - round((tpr + tnr) / 2, 6)) < 1e-9
    assert abs(r["youden_j"] - round(tpr - (1 - tnr), 6)) < 1e-9
    assert -1.0 <= r["mcc"] <= 1.0


def test_epoch_shuffle_is_permutation_prefix(spark):
    """The emitted prefix must be 20 rows, positions 1..20, keys
    strictly consistent with the LCG formula, and stable across two
    invocations (the reproducibility contract)."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.pipelineq import _LCG_A, _LCG_C, _LCG_M
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    a = sorted(
        QUERIES["pipe_epoch_shuffle"].fn(spark, sf).collect(),
        key=lambda r: r["position"],
    )
    b = sorted(
        QUERIES["pipe_epoch_shuffle"].fn(spark, sf).collect(),
        key=lambda r: r["position"],
    )
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert [r["position"] for r in a] == list(range(1, 21))
    for r in a:
        assert r["shuffle_key"] == (_LCG_A * r["doc_id"] + _LCG_C) % _LCG_M
    keys = [r["shuffle_key"] for r in a]
    assert keys == sorted(keys)
    # the permutation actually shuffles: prefix is not just ids 0..19
    assert [r["doc_id"] for r in a] != sorted(r["doc_id"] for r in a)[:20]


def test_kmeans_step_matches_numpy(spark):
    """The exact Lloyd step must reproduce a numpy implementation of
    the same quantized iteration: memberships, movement, inertia."""
    import numpy as np
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {r["cid"]: r for r in QUERIES["ml_kmeans_step_exact"].fn(spark, sf).collect()}

    pdf = pd.read_parquet(f"{sf}/embeddings.parquet").sort_values("vec_id")
    V = np.round(np.stack(pdf["embedding"].to_numpy()).astype("float64") * 1e6).astype(
        "int64"
    )
    C = V[:4]
    d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)  # (n, 4)
    assign = np.argmin(d, axis=1)  # argmin ties -> lowest cid, same rule
    assert sum(r["n_assigned"] for r in got.values()) == len(V)
    for cid in range(4):
        m = assign == cid
        n = int(m.sum())
        assert got[cid]["n_assigned"] == n
        num = int(np.abs(V[m].sum(axis=0) - n * C[cid]).sum())
        assert abs(got[cid]["movement"] - round(num / (1e6 * n), 6)) < 1e-9
        inertia = float(d[m, cid].sum()) / (1e12 * n)
        assert abs(got[cid]["mean_inertia"] - round(inertia, 6)) < 1e-6


def test_lift_gains_invariants(spark):
    """Cumulative gain is monotone nondecreasing and reaches exactly
    1.0 at the last decile; every decile's lift is positive."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    rows = sorted(
        QUERIES["ml_lift_gains"].fn(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    gains = [r["cum_gain"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(gains, gains[1:]))
    assert abs(gains[-1] - 1.0) < 1e-9
    assert all(r["lift"] > 0 for r in rows)
    assert sum(r["n"] for r in rows) == 150  # sf0.001 customer count


def test_countmin_never_underestimates(spark):
    """CMS hard guarantee: estimate >= exact for every probed key,
    and the probe set is exactly the top-10 users by exact count."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["ml_countmin_sketch"].fn(spark, sf).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["cms_estimate"] >= r["exact_n"]
        assert r["overestimate"] == r["cms_estimate"] - r["exact_n"]


def test_mad_outliers_matches_numpy(spark):
    """MAD medians and outlier counts reproduce a numpy
    implementation of the same ceil(n/2) discrete-median rule."""
    import numpy as np
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: r
           for r in QUERIES["rel_mad_outliers"].fn(spark, sf).collect()}
    e = pd.read_parquet(f"{sf}/events.parquet", columns=["event_type", "value"])
    e["vc"] = np.round(e["value"] * 100).astype("int64")
    for t, g in e.groupby("event_type"):
        v = np.sort(g["vc"].to_numpy())
        n = len(v)
        med = v[int(np.ceil(0.5 * n)) - 1]
        d = np.sort(np.abs(g["vc"].to_numpy() - med))
        mad = d[int(np.ceil(0.5 * n)) - 1]
        r = got[t]
        assert r["n"] == n
        assert r["median_value"] == round(med / 100.0, 2)
        assert r["mad_value"] == round(mad / 100.0, 2)
        assert r["n_outliers"] == int((np.abs(g["vc"].to_numpy() - med) > 3 * mad).sum())


def test_kaplan_meier_invariants(spark):
    """Survival is 1-at-start-decreasing, risk sets telescope exactly
    (n_risk[t+1] = n_risk[t] - d - c), and the curve only drops on
    event days."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    rows = sorted(
        QUERIES["ml_kaplan_meier"].fn(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["day"],
    )
    assert rows[0]["n_risk"] == sum(r["n_events"] + r["n_censored"] for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert b["n_risk"] == a["n_risk"] - a["n_events"] - a["n_censored"]
        assert b["survival"] <= a["survival"] + 1e-9
        if b["n_events"] == 0:
            assert b["log_survival_micro"] == a["log_survival_micro"]
    assert all(0.0 <= r["survival"] <= 1.0 for r in rows)


def test_shard_plan_conserves_bytes_and_is_contiguous(spark):
    """Shard byte totals must sum to the corpus total, doc ranges
    must be contiguous and non-overlapping, and every shard except
    the last must END at or past its size boundary."""
    from pyspark.sql import functions as F

    from web_attack_detection_spark.io.sources import load_table
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        QUERIES["pipe_shard_plan"].fn(spark, sf).collect(), key=lambda r: r["shard"]
    )
    docs = load_table(spark, sf, "documents")
    total = docs.select(
        F.sum(F.octet_length(F.encode("text", "UTF-8")).cast("long"))
    ).first()[0]
    assert sum(r["shard_bytes"] for r in rows) == total
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for a, b in zip(rows, rows[1:]):
        assert a["last_doc"] < b["first_doc"]


def test_cuped_theta_matches_numpy(spark):
    """CUPED's quantized theta must equal the numpy cov/var ratio
    floored at micro-units, and adjusted means must average to the
    raw grand mean (CUPED is mean-preserving across cohorts)."""
    import numpy as np
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {r["cohort"]: r for r in
           QUERIES["ml_cuped_adjustment"].fn(spark, sf).collect()}
    e = pd.read_parquet(f"{sf}/events.parquet", columns=["user_id", "ts", "value"])
    e["cents"] = np.round(e["value"] * 100).astype("int64")
    pre = e["ts"] < pd.Timestamp("2024-01-16")
    x = e[pre].groupby("user_id")["cents"].sum()
    y = e[~pre].groupby("user_id")["cents"].sum()
    users = sorted(set(e["user_id"]))
    xv = np.array([int(x.get(u, 0)) for u in users], dtype=object)
    yv = np.array([int(y.get(u, 0)) for u in users], dtype=object)
    n = len(users)
    num = 1000000 * (n * int((xv * yv).sum()) - int(xv.sum()) * int(yv.sum()))
    den = n * int((xv * xv).sum()) - int(xv.sum()) ** 2
    theta_micro = num // den
    for r in got.values():
        assert abs(r["theta"] - round(theta_micro / 1e6, 6)) < 1e-9
    # mean preservation: n-weighted cuped means == n-weighted raw means
    raw = sum(got[c]["raw_mean"] * got[c]["n_users"] for c in got)
    adj = sum(got[c]["cuped_mean"] * got[c]["n_users"] for c in got)
    assert abs(raw - adj) < 0.01


def test_ndcg_bounds_and_mrr_consistency(spark):
    """NDCG in [0,1]; MRR == 1 exactly when the top hit is relevant;
    n_rel bounded by 10."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    rows = QUERIES["sim_ndcg_at_k"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_rel"] <= 10
        assert -1e-9 <= r["ndcg_at_10"] <= 1 + 1e-9
        assert -1e-9 <= r["reciprocal_rank"] <= 1 + 1e-9
        if r["n_rel"] == 10:
            assert abs(r["ndcg_at_10"] - 1.0) < 1e-9
        if r["reciprocal_rank"] == 1.0:
            assert r["n_rel"] >= 1


def test_sprt_decision_consistent_with_trajectory(spark):
    """The decision column must be the sign of the boundary the
    cumulative LLR crossed, computed independently from the
    trajectory values."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.mlq2 import _SPRT_BOUND
    from web_attack_detection_spark.plans.registry import QUERIES

    rows = QUERIES["ml_sprt_monitor"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        want = 1 if r["llr_micro"] >= _SPRT_BOUND else (
            -1 if r["llr_micro"] <= -_SPRT_BOUND else 0
        )
        assert r["decision"] == want


def test_isotonic_calibration_matches_numpy_pav(spark):
    """MLlib's parallel PAV must return the EXACT sequential PAV
    solution (the isotonic projection is unique), and the query's
    invariant columns must hold: zero monotonicity violations, mass
    preserved, Brier no worse than the constant predictor."""
    import numpy as np
    from pyspark.ml.regression import IsotonicRegression
    from pyspark.sql import functions as F

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.mlq2 import _by_score, _detect_scored
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    grid = (
        _by_score(_detect_scored(spark, sf))
        .select(
            F.col("s").cast("double").alias("feature"),
            (F.col("np") / (F.col("np") + F.col("nn")).cast("double")).alias(
                "label"
            ),
            (F.col("np") + F.col("nn")).cast("double").alias("weight"),
        )
    )
    model = IsotonicRegression(
        featuresCol="feature", labelCol="label", weightCol="weight"
    ).fit(grid)
    got = {
        r["feature"]: r["prediction"]
        for r in model.transform(grid).collect()
    }

    # sequential pool-adjacent-violators on the same (x, y, w) grid
    rows = sorted(
        (r["feature"], r["label"], r["weight"]) for r in grid.collect()
    )
    blocks = [[y * w, w] for _, y, w in rows]  # [weighted sum, weight]
    merged: list[list[float]] = []
    for b in blocks:
        merged.append(b)
        while (
            len(merged) > 1
            and merged[-2][0] / merged[-2][1] > merged[-1][0] / merged[-1][1]
        ):
            s, w = merged.pop()
            merged[-1][0] += s
            merged[-1][1] += w
    # expand block means back to per-x predictions
    want = []
    i = 0
    for s, w in merged:
        mean = s / w
        acc = 0.0
        while acc < w - 1e-9:
            acc += rows[i][2]
            want.append((rows[i][0], mean))
            i += 1
    assert len(want) == len(rows)
    for x, mean in want:
        assert abs(got[x] - mean) < 1e-9, (x, got[x], mean)

    row = QUERIES["ml_isotonic_calibration"].fn(spark, sf).collect()[0]
    assert row["n_violations"] == 0
    # mass preserved up to per-point micro-unit quantization
    assert abs(row["mass_diff_u6"]) <= row["n_scores"] * sum(
        w for _, _, w in rows
    ) / len(rows)
    assert row["brier_cal_u6"] <= row["brier_const_u6"]
    assert 0 <= row["cal_min_u6"] <= row["cal_max_u6"] <= 1_000_000
    assert np.int64(row["n_blocks"]) >= 1
    assert row["mllib_parity"] is True


def test_kmeans_clusters_exact_lloyd_invariants(spark):
    """ml_kmeans_clusters (exact Lloyd, full oracle since r7):
    membership covers the corpus exactly once, the per-round SSE
    trace is monotone non-increasing (Lloyd's guarantee — now part
    of the oracled data), and the MLlib cost-parity audit holds."""
    import duckdb

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["ml_kmeans_clusters"].fn(spark, sf).collect()
    n = duckdb.sql(f"select count(*) from '{sf}/embeddings.parquet'").fetchone()[0]
    assert sum(r["n_vectors"] for r in rows) == n
    trace = [int(t) for t in rows[0]["sse_trace"].split("|")]
    assert len(trace) == 10
    # floor-quantized per-row distances can move a round's total by at
    # most n (one unit per row) even when the true SSE is flat
    assert all(b <= a + n for a, b in zip(trace, trace[1:])), trace
    assert trace[-1] <= trace[0]
    assert trace[-1] > 0
    for r in rows:
        assert r["audit_mllib_sane"] is True, r
        assert r["mean_inertia"] > 0.0, r


def test_cv_naive_bayes_folds_pinned_and_baseline_bounded(spark):
    """ml_cv_naive_bayes' in-query audit: md5 fold sizes are exact and
    deterministic (pinned at sf0.001), folds partition the table, and
    per-fold accuracy never falls more than 0.02 below the
    train-majority baseline (the events labels are synthetic noise vs
    these features, so AT the baseline is the honest expectation —
    measured fold accuracies 0.176-0.192 vs baselines 0.157-0.195)."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    rows = sorted(
        QUERIES["ml_cv_naive_bayes"].fn(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["fold"],
    )
    assert [(r["n_train"], r["n_test"]) for r in rows] == [
        (662, 338),
        (631, 369),
        (707, 293),
    ]
    total = rows[0]["n_train"] + rows[0]["n_test"]
    for r in rows:
        assert r["n_train"] + r["n_test"] == total
        assert r["accuracy"] >= r["baseline_accuracy"] - 0.02, r
        assert r["mllib_agree"] is True, r
    # pooled CV accuracy: exact single division of total correct /
    # total test rows, constant across the three fold rows
    pooled = {r["cv_accuracy"] for r in rows}
    assert len(pooled) == 1
    lo = min(r["accuracy"] for r in rows)
    hi = max(r["accuracy"] for r in rows)
    assert lo - 1e-9 <= rows[0]["cv_accuracy"] <= hi + 1e-9


def test_pca_project_variance_ordering_audit(spark):
    """ml_pca_project's in-query audit: projected component variances
    non-increasing (the defining principal-axis property), identical
    on every row."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    rows = QUERIES["ml_pca_project"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(r["audit_variance_ordered"] for r in rows)
    # the power-iteration axes are orthonormal -> total projected
    # variance equals total input variance (rotation preserves trace);
    # checked loosely here, exactly by the DuckDB oracle's hash match
    import statistics

    tot_proj = sum(
        statistics.variance([r[f"pc{c}"] for r in rows]) for c in range(1, 5)
    )
    assert tot_proj > 0.0


def test_train_eval_family_baseline_audits(spark):
    """The four MLlib train/eval queries carry the train-majority
    baseline computed in-query; fitted accuracy must sit within noise
    of (or above) it — the honest claim on noise labels."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    for q in (
        "ml_naive_bayes_train_eval",
        "ml_mlp_train_eval",
        "ml_random_forest_train_eval",
    ):
        row = QUERIES[q].fn(spark, "/root/testdata/sf0.001").collect()[0]
        assert 0.0 < row["baseline_accuracy"] < 1.0, q
        assert row["accuracy"] >= row["baseline_accuracy"] - 0.05, (q, row)
        assert row["n_train"] > 0 and row["n_test"] > 0


def test_logreg_exact_gd_trajectory(spark):
    """ml_logreg_train_eval (full oracle since r8): 8 exact-GD rounds,
    every round's MLlib-parity audit holds, the gradient-norm trace
    shrinks (convexity: full-batch GD at a stable step size), and the
    final training accuracy is no worse than round 1's."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    rows = sorted(
        QUERIES["ml_logreg_train_eval"].fn(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == list(range(1, 9))
    assert all(r["audit_mllib_acc_parity"] for r in rows)
    assert all(r["n_train"] > 0 for r in rows)
    gnorms = [
        abs(r["g_bias"]) + abs(r["g_z1"]) + abs(r["g_z2"]) + abs(r["g_z3"])
        for r in rows
    ]
    assert gnorms[-1] < gnorms[0]
    assert rows[-1]["n_correct"] >= rows[0]["n_correct"]


def test_als_exact_invariants(spark):
    """ml_als_exact (full oracle since r8): 2 rounds x 5 items, the
    quantized train SSE never increases round-over-round (alternating
    ridge solves descend the regularized objective; quantization noise
    is orders below the observed drop), every item keeps a factor row,
    and the MLlib SSE-parity audit holds."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    rows = QUERIES["ml_als_exact"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    by_round = {}
    for r in rows:
        by_round.setdefault(r["round"], []).append(r)
        assert r["audit_mllib_sse_sane"] is True
        assert r["n_users"] > 0
    assert sorted(by_round) == [1, 2]
    assert {r["item_id"] for r in by_round[1]} == set(range(5))
    sse = {rd: rows_[0]["sse_q"] for rd, rows_ in by_round.items()}
    assert sse[2] <= sse[1]


@pytest.mark.parametrize("qname", ["ml_cnn_infer", "ml_rnn_infer", "ml_lstm_infer"])
def test_sequence_infer_simplex_audit(spark, qname):
    """Every class group's probability mass equals its row count
    (softmax rows sum to 1) — the in-query boolean must hold."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    rows = QUERIES[qname].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["audit_prob_simplex"], r


def test_decision_tree_exact_invariants(spark):
    """ml_decision_tree_exact: leaves partition the corpus, internal
    counts are consistent parent = left + right, the depth-2 train
    accuracy is at least the root majority baseline (a split can
    never hurt training accuracy), and predictions are leaf
    majorities."""
    import duckdb

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = {r["path"]: r for r in QUERIES["ml_decision_tree_exact"].fn(spark, sf).collect()}
    assert set(rows) == {"", "L", "R", "LL", "LR", "RL", "RR"}
    n_corpus = duckdb.sql(
        f"select count(*) from '{sf}/lineitem.parquet'"
    ).fetchone()[0]
    root = rows[""]
    assert root["n"] == n_corpus
    assert root["n"] == rows["L"]["n"] + rows["R"]["n"]
    for side in ("L", "R"):
        assert rows[side]["n"] == rows[side + "L"]["n"] + rows[side + "R"]["n"]
        assert rows[side]["n_pos"] == rows[side + "L"]["n_pos"] + rows[side + "R"]["n_pos"]
        assert not rows[side]["is_leaf"] and rows[side]["feature"] in ("q", "d", "t")
    for p in ("LL", "LR", "RL", "RR"):
        leaf = rows[p]
        assert leaf["is_leaf"] and leaf["feature"] is None
        assert leaf["pred"] == (1 if 2 * leaf["n_pos"] > leaf["n"] else 0)
    baseline = max(root["n_pos"], root["n"] - root["n_pos"]) / root["n"]
    assert root["train_accuracy"] >= baseline - 1e-12
    assert 0.0 < root["train_accuracy"] <= 1.0


def test_gbt_stumps_exact_invariants(spark):
    """ml_gbt_stumps_exact: 4 dense rounds, each stump partitions the
    corpus, and boosting beats the constant-mean predictor (train
    RMSE strictly below the label standard deviation)."""
    import duckdb

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        QUERIES["ml_gbt_stumps_exact"].fn(spark, sf).collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == [1, 2, 3, 4]
    n, sd = duckdb.sql(
        f"select count(*), stddev_pop(l_extendedprice) from '{sf}/lineitem.parquet'"
    ).fetchone()
    for r in rows:
        assert r["n_l"] + r["n_r"] == n
        assert r["feature"] in ("q", "d", "t")
        assert r["train_rmse"] == rows[0]["train_rmse"]  # one final metric
    assert 0 < rows[0]["train_rmse"] < sd


def test_random_forest_exact_invariants(spark):
    """ml_random_forest_exact: 5 trees, each bagged on ~2/3 of the
    corpus with the rotating 2-of-3 feature rule, leaf predictions
    are bag majorities, and the exact ensemble accuracy beats or
    matches the worst constant predictor."""
    import duckdb

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES
    from web_attack_detection_spark.plans.treeq import _rf_allowed

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        QUERIES["ml_random_forest_exact"].fn(spark, sf).collect(),
        key=lambda r: r["tree"],
    )
    assert [r["tree"] for r in rows] == [0, 1, 2, 3, 4]
    n = duckdb.sql(f"select count(*) from '{sf}/lineitem.parquet'").fetchone()[0]
    for r in rows:
        assert r["feature"] in _rf_allowed(r["tree"]), r
        assert 0.55 * n < r["n_bag"] < 0.78 * n  # ~2/3 md5 bag
        assert r["pred_l"] in (0, 1) and r["pred_r"] in (0, 1)
        assert r["ensemble_accuracy"] == rows[0]["ensemble_accuracy"]
    # positives are ~1/3 of rows -> all-negative baseline ~2/3; the
    # vote must do at least that well on train
    assert rows[0]["ensemble_accuracy"] >= 0.6


def test_logreg_exact_gd_matches_numpy_twin(spark):
    """Three-implementation agreement for the exact-GD logreg (the
    unigram-family discipline): Spark == a numpy float64 mirror that
    replays the identical trajectory — same quantization, same operand
    order, integer gradient sums (order-free, so numpy's pairwise
    summation is irrelevant). The DuckDB side is pinned by the oracle
    sweep; this pins the algorithm against an independent runtime."""
    import math

    import numpy as np
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.mlq import (
        _LRGD_LR,
        _LRGD_ROUNDS,
        _lrgd_round_half_away,
    )
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (
            tuple(
                r[c]
                for c in (
                    "round",
                    "g_bias",
                    "g_z1",
                    "g_z2",
                    "g_z3",
                    "n_correct",
                    "w_bias_q",
                    "w_z1_q",
                    "w_z2_q",
                    "w_z3_q",
                    "n_train",
                )
            )
            for r in QUERIES["ml_logreg_train_eval"].fn(spark, sf).collect()
        )
    )

    pdf = pd.read_parquet(f"{sf}/events.parquet")
    pdf = pdf[pdf["event_id"] % 4 != 1]
    x1q = np.floor(pdf["value"].to_numpy() * 10000 + 0.5).astype("int64")
    x2q = (pdf["user_id"].to_numpy() % 100).astype("int64")
    x3q = (pdf["event_id"].to_numpy() % 100).astype("int64")
    y = pdf["event_type"].isin(["purchase", "signup"]).to_numpy().astype("int64")
    n = len(pdf)
    zs = []
    for xq in (x1q, x2q, x3q):
        m = float(int(xq.sum())) / float(n)
        q = float(int((xq.astype(object) ** 2).sum())) / float(n)
        sd = math.sqrt(q - m * m)
        zs.append((xq.astype("float64") - m) / sd)
    z1, z2, z3 = zs
    w = [0.0, 0.0, 0.0, 0.0]
    n6 = float(n) * 1000000.0
    want = []
    for r in range(1, _LRGD_ROUNDS + 1):
        m = w[0] + w[1] * z1 + w[2] * z2 + w[3] * z3
        p = 1.0 / (1.0 + np.exp(-m))
        resid = p - y.astype("float64")

        def q6(a):
            # Spark F.round HALF_UP == half away from zero
            return np.where(
                a >= 0, np.floor(a + 0.5), np.ceil(a - 0.5)
            ).astype("int64")

        grads = [
            int(q6(resid * 1000000.0).sum()),
            int(q6(resid * z1 * 1000000.0).sum()),
            int(q6(resid * z2 * 1000000.0).sum()),
            int(q6(resid * z3 * 1000000.0).sum()),
        ]
        nc = int(((m >= 0.0) == (y == 1)).sum())
        for d in range(4):
            w[d] = w[d] - _LRGD_LR * (float(grads[d]) / n6)
        want.append(
            (
                r,
                *grads,
                nc,
                *[_lrgd_round_half_away(w[d] * 1000000) for d in range(4)],
                n,
            )
        )
    assert got == sorted(want)


def test_als_exact_matches_numpy_twin(spark):
    """ml_als_exact vs a numpy/python mirror of the alternating
    integer normal-equation rounds: exact int sums (object dtype to
    avoid int64 overflow in the determinant products), one float
    division per factor component, identical re-quantization."""
    import numpy as np
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.mlq2 import (
        _ALS_INIT,
        _ALS_LAM,
        _ALS_ROUNDS,
        _ALS_S,
    )
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r["round"], r["item_id"], r["v1q"], r["v2q"], r["n_users"], r["sse_q"])
        for r in QUERIES["ml_als_exact"].fn(spark, sf).collect()
    )

    pdf = pd.read_parquet(f"{sf}/events.parquet")
    imap = {"click": 0, "view": 1, "purchase": 2, "signup": 3}
    pdf["item_id"] = pdf["event_type"].map(lambda t: imap.get(t, 4))
    ratings = (
        pdf.groupby(["user_id", "item_id"]).size().rename("cnt").reset_index()
    )
    S, LAM = _ALS_S, _ALS_LAM

    def rhalf(x):
        import math

        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    V = {i: (a, b) for i, a, b in _ALS_INIT}
    want = []
    for r in range(1, _ALS_ROUNDS + 1):
        # user solve (exact python ints)
        uf = {}
        for uid, grp in ratings.groupby("user_id"):
            a11 = a12 = a22 = c1 = c2 = 0
            for _, row in grp.iterrows():
                v1, v2 = V[int(row["item_id"])]
                cnt = int(row["cnt"])
                a11 += v1 * v1
                a12 += v1 * v2
                a22 += v2 * v2
                c1 += cnt * v1
                c2 += cnt * v2
            A11, A22 = a11 + LAM, a22 + LAM
            det = A11 * A22 - a12 * a12
            u1 = float(A22 * (c1 * S) - a12 * (c2 * S)) / float(det)
            u2 = float(A11 * (c2 * S) - a12 * (c1 * S)) / float(det)
            uf[uid] = (rhalf(u1 * float(S)), rhalf(u2 * float(S)))
        # item solve
        newV, nmap = {}, {}
        for iid, grp in ratings.groupby("item_id"):
            a11 = a12 = a22 = c1 = c2 = 0
            for _, row in grp.iterrows():
                u1, u2 = uf[row["user_id"]]
                cnt = int(row["cnt"])
                a11 += u1 * u1
                a12 += u1 * u2
                a22 += u2 * u2
                c1 += cnt * u1
                c2 += cnt * u2
            A11, A22 = a11 + LAM, a22 + LAM
            det = A11 * A22 - a12 * a12
            v1 = float(A22 * (c1 * S) - a12 * (c2 * S)) / float(det)
            v2 = float(A11 * (c2 * S) - a12 * (c1 * S)) / float(det)
            newV[int(iid)] = (rhalf(v1 * float(S)), rhalf(v2 * float(S)))
            nmap[int(iid)] = len(grp)
        V = newV
        sse = 0
        for _, row in ratings.iterrows():
            u1, u2 = uf[row["user_id"]]
            v1, v2 = V[int(row["item_id"])]
            e = float(int(row["cnt"]) * S * S - (u1 * v1 + u2 * v2)) / float(S * S)
            sse += int(np.floor(e * e))
        for i in sorted(V):
            want.append((r, i, V[i][0], V[i][1], nmap[i], sse))
    assert got == sorted(want)


def test_mlp_exact_gd_trajectory(spark):
    """ml_mlp_exact (NEW r9 — the trainer-conversion capstone): 6
    exact-GD rounds of a 3->8->1 hard-tanh net.  Tidy-relation shape
    invariants (41 params + 1 acc row per round, a final confusion
    whose counts sum to the test split), asymmetry actually broke the
    hidden-unit symmetry (round-6 hidden weights are not all equal),
    and training accuracy does not degrade vs round 1."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.mlq import _MLPX_H, _MLPX_ROUNDS
    from web_attack_detection_spark.plans.registry import QUERIES

    rows = QUERIES["ml_mlp_exact"].fn(spark, "/root/testdata/sf0.001").collect()
    by = {}
    for r in rows:
        by.setdefault(r["layer"], []).append(r)
    assert len(by["hidden"]) == _MLPX_ROUNDS * _MLPX_H * 4
    assert len(by["out"]) == _MLPX_ROUNDS * (_MLPX_H + 1)
    assert len(by["acc"]) == _MLPX_ROUNDS
    accs = sorted(by["acc"], key=lambda r: r["round"])
    n_train = accs[0]["w_q"]
    assert n_train > 0 and all(a["w_q"] == n_train for a in accs)
    assert accs[-1]["grad_q"] >= accs[0]["grad_q"]  # train acc no worse
    final_hidden = [
        r["w_q"] for r in by["hidden"] if r["round"] == _MLPX_ROUNDS
    ]
    assert len(set(final_hidden)) > 1  # symmetry broken by pinned init
    import duckdb

    n_test = duckdb.sql(
        "select count(*) from '/root/testdata/sf0.001/events.parquet'"
        " where event_id % 4 = 1"
    ).fetchone()[0]
    assert sum(r["grad_q"] for r in by["cm"]) == n_test
    assert all(r["pidx"] in (0, 1) for r in by["cm"])


def test_mlp_exact_gd_matches_numpy_twin(spark):
    """Three-implementation agreement for the exact-GD MLP (the
    logreg-twin discipline): Spark == a numpy float64 mirror replaying
    the identical trajectory — same pinned init, same left-associated
    forward expressions, hard-tanh clamp, gated backprop, 1e6-quantized
    order-free integer gradient sums.  The DuckDB side is pinned by the
    oracle sweep; this pins the algorithm against an independent
    runtime."""
    import math

    import numpy as np
    import pandas as pd

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.mlq import (
        _MLPX_H,
        _MLPX_LR,
        _MLPX_ROUNDS,
        _lrgd_round_half_away,
        _mlpx_init,
    )
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r[c] for c in ("round", "layer", "unit", "pidx", "grad_q", "w_q"))
        for r in QUERIES["ml_mlp_exact"].fn(spark, sf).collect()
    )

    pdf = pd.read_parquet(f"{sf}/events.parquet")
    istest = (pdf["event_id"] % 4 == 1).to_numpy()
    x1q = np.floor(pdf["value"].to_numpy() * 10000 + 0.5).astype("int64")
    x2q = (pdf["user_id"].to_numpy() % 100).astype("int64")
    x3q = (pdf["event_id"].to_numpy() % 100).astype("int64")
    y_all = pdf["event_type"].isin(["purchase", "signup"]).to_numpy().astype("int64")
    tr = ~istest
    n = int(tr.sum())
    zs_tr, zs_te = [], []
    for xq in (x1q, x2q, x3q):
        m = float(int(xq[tr].sum())) / float(n)
        q = float(int((xq[tr].astype(object) ** 2).sum())) / float(n)
        sd = math.sqrt(q - m * m)
        zs_tr.append((xq[tr].astype("float64") - m) / sd)
        zs_te.append((xq[istest].astype("float64") - m) / sd)
    y = y_all[tr]
    H = _MLPX_H
    W, V = _mlpx_init()
    n6 = float(n) * 1000000.0

    def q6(a):
        return np.where(a >= 0, np.floor(a + 0.5), np.ceil(a - 0.5)).astype("int64")

    def forward(zs):
        pre = [
            ((W[j - 1][0] + W[j - 1][1] * zs[0]) + W[j - 1][2] * zs[1])
            + W[j - 1][3] * zs[2]
            for j in range(1, H + 1)
        ]
        h = [np.maximum(np.minimum(p, 1.0), -1.0) for p in pre]
        m = np.full_like(h[0], V[0])
        for j in range(1, H + 1):
            m = m + V[j] * h[j - 1]
        return pre, h, m

    want = []
    for r in range(1, _MLPX_ROUNDS + 1):
        pre, h, m = forward(zs_tr)
        resid = 1.0 / (1.0 + np.exp(-m)) - y.astype("float64")
        gvb = int(q6(resid * 1000000.0).sum())
        gv = [int(q6(resid * h[j - 1] * 1000000.0).sum()) for j in range(1, H + 1)]
        gw = {}
        for j in range(1, H + 1):
            dh = np.where(np.abs(pre[j - 1]) < 1.0, resid * V[j], 0.0)
            gw[(j, 0)] = int(q6(dh * 1000000.0).sum())
            for i in (1, 2, 3):
                gw[(j, i)] = int(q6(dh * zs_tr[i - 1] * 1000000.0).sum())
        nc = int(((m >= 0.0) == (y == 1)).sum())
        for j in range(1, H + 1):
            for i in range(4):
                W[j - 1][i] = W[j - 1][i] - _MLPX_LR * (float(gw[(j, i)]) / n6)
        V[0] = V[0] - _MLPX_LR * (float(gvb) / n6)
        for j in range(1, H + 1):
            V[j] = V[j] - _MLPX_LR * (float(gv[j - 1]) / n6)
        for j in range(1, H + 1):
            for i in range(4):
                want.append(
                    (r, "hidden", j, i, gw[(j, i)],
                     _lrgd_round_half_away(W[j - 1][i] * 1000000))
                )
        want.append((r, "out", 0, 0, gvb, _lrgd_round_half_away(V[0] * 1000000)))
        for j in range(1, H + 1):
            want.append(
                (r, "out", 0, j, gv[j - 1],
                 _lrgd_round_half_away(V[j] * 1000000))
            )
        want.append((r, "acc", 0, 0, nc, n))
    _, _, mt = forward(zs_te)
    yt = y_all[istest]
    pred = (mt >= 0.0).astype("int64")
    for uy in (0, 1):
        for up in (0, 1):
            c = int(((yt == uy) & (pred == up)).sum())
            if c:
                want.append((_MLPX_ROUNDS, "cm", uy, up, c, 0))
    assert got == sorted(want)


def test_mlp_adam_exact_trajectory_and_moments(spark):
    """ml_mlp_adam_exact (r9 second wave): same net as ml_mlp_exact
    trained with the reference's Adam (lr=1e-3, Keras defaults).
    Shape invariants incl. the moment columns, moments start from zero
    EMAs (round-1 m = 0.1*g exactly, in quantized units), GD-row
    parity of the gradient sums in round 1 (identical init => identical
    first forward pass), and the Adam step size is bounded by lr
    (|w_1 - w_0| <= lr * (1 + tiny) per parameter)."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.mlq import (
        _MLPX_H,
        _MLPX_ROUNDS,
        _mlpx_init,
        _lrgd_round_half_away,
    )
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["ml_mlp_adam_exact"].fn(spark, sf).collect()
    by = {}
    for r in rows:
        by.setdefault(r["layer"], []).append(r)
    assert len(by["hidden"]) == _MLPX_ROUNDS * _MLPX_H * 4
    assert len(by["out"]) == _MLPX_ROUNDS * (_MLPX_H + 1)
    n = by["acc"][0]["w_q"]
    r1 = [r for r in rows if r["round"] == 1 and r["layer"] in ("hidden", "out")]
    for r in r1:
        # m_1 = (1-0.9)*g/(n*1e6); quantized at 1e9 both sides
        g = r["grad_q"] / (n * 1e6)
        m1 = (1.0 - 0.9) * g
        assert r["m_q"] == _lrgd_round_half_away(m1 * 1e9), r
    # round-1 gradient sums equal the GD query's (identical init)
    gd = {
        (x["layer"], x["unit"], x["pidx"]): x["grad_q"]
        for x in QUERIES["ml_mlp_exact"].fn(spark, sf).collect()
        if x["round"] == 1 and x["layer"] in ("hidden", "out")
    }
    for r in r1:
        assert gd[(r["layer"], r["unit"], r["pidx"])] == r["grad_q"]
    # Adam step bound: |w_1 - w_0| <= lr * mhat/sqrt(vhat) ~= lr for
    # the bias-corrected first step (equality up to eps damping)
    W0, V0 = _mlpx_init()
    for r in r1:
        if r["layer"] == "hidden":
            w0 = W0[r["unit"] - 1][r["pidx"]]
        else:
            w0 = V0[r["pidx"]]
        step = abs(r["w_q"] / 1e6 - w0)
        assert step <= 0.001 + 2e-6, r
