"""In-engine sequence-model training (ml/train.py, plans/deepq.py).

The claims under test, strongest first:
1. each architecture's analytic gradient matches finite differences
   (the gold-standard backprop check);
2. the backward pass's embedded forward agrees exactly with the
   inference forward in ml/nets.py (no train/score drift);
3. every fit runs protocol_fit_arrays inside one worker task: a
   minibatch Adam fit and a full-batch momentum-SGD fit each equal
   the kernel run locally on the same rows;
4. training actually learns: loss falls and held-out accuracy beats
   the majority class on separable synthetic data;
5. the REFERENCE PROTOCOL (round 6): the Adam step matches the
   textbook bias-corrected update exactly; minibatch hash shards
   reshuffle every epoch; EarlyStopping restores bit-identical
   best-epoch weights; the single-task fit equals its local twin;
6. weight-file save -> load -> distributed serve loses nothing;
7. the registered queries run end-to-end, early-stop inside the
   50-epoch cap, and report learning.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_ORACLE
from web_attack_detection_spark.ml import nets, train

RNG = np.random.default_rng(11)


def _fd_max_rel_err(arch, seq_len, n_classes=3, n=4, n_coords=20, eps=1e-5):
    params = train.init_params(arch, seq_len, n_classes, seed=1)
    x = RNG.standard_normal((n, seq_len))
    y = RNG.integers(0, n_classes, n)
    _, grads = train.GRAD_FNS[arch](x, y, params)
    flat = train.flatten_params(params)
    gflat = train.flatten_params(grads)
    idxs = RNG.choice(flat.size, size=min(n_coords, flat.size), replace=False)
    worst = 0.0
    for i in idxs:
        fp = flat.copy()
        fp[i] += eps
        lp, _ = train.GRAD_FNS[arch](x, y, train.unflatten_params(params, fp))
        fm = flat.copy()
        fm[i] -= eps
        lm, _ = train.GRAD_FNS[arch](x, y, train.unflatten_params(params, fm))
        num = (lp - lm) / (2 * eps)
        worst = max(worst, abs(num - gflat[i]) / max(1e-8, abs(num) + abs(gflat[i])))
    return worst


@pytest.mark.parametrize(
    "arch,seq_len",
    [("cnn", 32), ("rnn", 6), ("lstm", 6), ("mlp", 12)],
)
def test_gradient_matches_finite_differences(arch, seq_len):
    # 1e-4 tolerance: FD with eps=1e-5 carries ~1e-6 relative noise on
    # the tiniest coordinates; analytic errors show up orders louder
    assert _fd_max_rel_err(arch, seq_len) < 1e-4


def test_flatten_unflatten_roundtrip():
    for arch, L in (("cnn", 40), ("rnn", 8), ("lstm", 8)):
        p = train.init_params(arch, L, 5, seed=9)
        flat = train.flatten_params(p)
        p2 = train.unflatten_params(p, flat)
        flat2 = train.flatten_params(p2)
        assert np.array_equal(flat, flat2)
        # structure preserved
        assert sorted(p2.keys()) == sorted(p.keys())


@pytest.mark.parametrize("arch", ["cnn", "rnn", "lstm", "mlp"])
def test_backward_forward_agrees_with_inference_forward(arch):
    """The cache-building forward inside *_loss_grads must produce the
    same probabilities as nets.*_forward — otherwise training optimizes
    a different function than scoring evaluates."""
    L = 34 if arch == "cnn" else 7
    params = train.init_params(arch, L, 4, seed=2)
    x = RNG.standard_normal((6, L))
    y = RNG.integers(0, 4, 6)
    loss_sum, _ = train.GRAD_FNS[arch](x, y, params)
    probs = train.FORWARD_FNS[arch](x, params)
    ce = -np.log(probs[np.arange(len(y)), y]).sum()
    assert abs(loss_sum - ce) < 1e-9


def test_fit_learns_separable_classes(spark):
    """Template-injected classes (high margin): every architecture must
    beat the majority baseline decisively and reduce training loss."""
    n, L, C = 400, 16, 3
    templates = RNG.standard_normal((C, L)) * 2.0
    y = RNG.integers(0, C, n)
    X = templates[y] + 0.3 * RNG.standard_normal((n, L))
    df = (
        spark.createDataFrame(
            [(i, X[i].tolist(), int(y[i])) for i in range(n)],
            "vec_id long, seq array<double>, label int",
        )
        .repartition(6)
        .cache()
    )
    df.count()
    for arch, lr in (("rnn", 0.2), ("lstm", 0.3)):
        params, hist = train.fit_sequence_net(
            df, arch, L, C, epochs=8, lr=lr, seed=4
        )
        probs = train.FORWARD_FNS[arch](X, params)
        acc = (probs.argmax(1) == y).mean()
        assert hist["loss"][-1] < hist["loss"][0] * 0.8, (arch, hist)
        assert acc > 0.8, (arch, acc)
    df.unpersist()


def test_cnn_fit_learns(spark):
    """CNN needs seq_len >= ~24 to survive its three pool halvings;
    separate case at L=32."""
    n, L, C = 400, 32, 3
    templates = RNG.standard_normal((C, L)) * 2.0
    y = RNG.integers(0, C, n)
    X = templates[y] + 0.3 * RNG.standard_normal((n, L))
    df = (
        spark.createDataFrame(
            [(i, X[i].tolist(), int(y[i])) for i in range(n)],
            "vec_id long, seq array<double>, label int",
        )
        .repartition(6)
        .cache()
    )
    df.count()
    params, hist = train.fit_sequence_net(df, "cnn", L, C, epochs=8, lr=0.12, seed=4)
    probs = nets.cnn_forward(X, params)
    acc = (probs.argmax(1) == y).mean()
    assert hist["loss"][-1] < hist["loss"][0] * 0.8, hist
    assert acc > 0.8, acc
    df.unpersist()


def test_trained_params_flow_through_sequence_scorer(spark):
    """Train-in-engine -> score-anywhere: the trained dict must score
    identically through the distributed predict_batch_udf path."""
    from pyspark.sql import functions as F

    from web_attack_detection_spark.ml.inference import sequence_scorer

    n, L, C = 120, 10, 3
    X = RNG.standard_normal((n, L))
    y = RNG.integers(0, C, n)
    df = spark.createDataFrame(
        [(i, X[i].tolist(), int(y[i])) for i in range(n)],
        "vec_id long, seq array<double>, label int",
    ).cache()
    df.count()
    params, _ = train.fit_sequence_net(df, "rnn", L, C, epochs=2, lr=0.1, seed=3)
    local = nets.rnn_forward(X, params)
    scorer = sequence_scorer(nets.rnn_forward, params, L)
    rows = df.select(scorer(F.col("seq")).alias("p")).collect()
    dist = np.array([r["p"] for r in rows])
    assert np.allclose(np.sort(dist, axis=0), np.sort(local, axis=0), atol=1e-12)
    df.unpersist()


def test_lstm_unit_forget_bias_applied():
    # fit_sequence_net must start LSTM forget gates open (Keras
    # unit_forget_bias) without touching the seeded inference weights
    seeded = train.init_params("lstm", 8, 3, seed=42)
    assert np.all(seeded["lstm1"][2] == 0.0)


@pytest.mark.parametrize(
    "qname", ["ml_cnn_train_dist", "ml_rnn_train_dist", "ml_lstm_train_dist"]
)
def test_train_queries_report_learning(spark, qname):
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    row = QUERIES[qname].fn(spark, SF_ORACLE).collect()[0]
    assert row["n_train"] > 0 and row["n_test"] > 0
    assert row["final_train_loss"] < row["first_epoch_loss"], row
    assert row["test_accuracy"] > row["majority_share"], row
    # reference protocol: EarlyStopping(patience=5) fired inside the
    # 50-epoch cap and the best epoch is exactly patience before stop
    assert row["early_stopped"], row
    assert row["epochs_run"] < 50, row
    assert row["best_epoch"] == row["epochs_run"] - 5, row


def test_params_save_load_bit_exact(tmp_path):
    p = train.init_params("lstm", 8, 3, seed=7)
    f = str(tmp_path / "w.json")
    train.save_params(p, f)
    p2 = train.load_params(f)
    assert np.array_equal(train.flatten_params(p), train.flatten_params(p2))
    # structure: tuples stay tuples (nets.* unpack (w, u, b))
    assert isinstance(p2["lstm1"], tuple)
    x = RNG.standard_normal((5, 8))
    assert np.array_equal(nets.lstm_forward(x, p), nets.lstm_forward(x, p2))


def test_trained_then_saved_scores_identically(spark, tmp_path):
    """Full seam: fit in-engine -> save -> load -> same predictions."""
    n, L, C = 80, 10, 3
    X = RNG.standard_normal((n, L))
    y = RNG.integers(0, C, n)
    df = spark.createDataFrame(
        [(i, X[i].tolist(), int(y[i])) for i in range(n)],
        "vec_id long, seq array<double>, label int",
    ).cache()
    df.count()
    params, _ = train.fit_sequence_net(df, "rnn", L, C, epochs=2, lr=0.1, seed=3)
    f = str(tmp_path / "rnn.json")
    train.save_params(params, f)
    loaded = train.load_params(f)
    assert np.array_equal(nets.rnn_forward(X, params), nets.rnn_forward(X, loaded))
    df.unpersist()


def test_transpiled_scoring_plan_is_pure_jvm(spark):
    """transpile_linear_softmax output must contain no Python eval
    node: the whole point is serving without a Python worker."""
    from web_attack_detection_spark.plans.deepq import transpile_linear_softmax

    df = spark.range(100).selectExpr(
        "array(cast(id as double), cast(id % 7 as double)) as features"
    )
    coef = [[0.5, -1.0], [0.25, 2.0], [-0.75, 0.1]]
    intercept = [0.1, -0.2, 0.3]
    _, pred = transpile_linear_softmax(coef, intercept, "features")
    plan = df.select(pred.alias("p"))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # "*(n)" prefixes = operators fused into a WholeStageCodegen stage
    assert plan.lstrip().startswith("*("), plan[:200]


def test_resume_from_checkpoint_continues_learning(spark, tmp_path):
    """Weights-only checkpoint/resume: save after a few epochs, load in
    a 'new run', keep training — loss keeps falling from where it was."""
    n, L, C = 300, 16, 3
    templates = RNG.standard_normal((C, L)) * 2.0
    y = RNG.integers(0, C, n)
    X = templates[y] + 0.3 * RNG.standard_normal((n, L))
    df = (
        spark.createDataFrame(
            [(i, X[i].tolist(), int(y[i])) for i in range(n)],
            "vec_id long, seq array<double>, label int",
        )
        .repartition(4)
        .cache()
    )
    df.count()
    p1, h1 = train.fit_sequence_net(df, "rnn", L, C, epochs=3, lr=0.2, seed=4)
    ckpt = str(tmp_path / "ckpt.json")
    train.save_params(p1, ckpt)
    p2, h2 = train.fit_sequence_net(
        df, "rnn", L, C, epochs=3, lr=0.2, init=train.load_params(ckpt)
    )
    # the resumed run starts at the checkpoint's loss, not at init
    assert h2["loss"][0] < h1["loss"][0], (h1, h2)
    assert h2["loss"][-1] < h2["loss"][0], h2
    df.unpersist()


def test_adam_step_matches_naive_reference():
    """adam_step must reproduce the textbook bias-corrected Adam update
    (Kingma & Ba 2015, eps outside the sqrt — the Keras placement the
    reference's optimizer uses) exactly, over a multi-step trajectory."""
    rng = np.random.default_rng(3)
    flat = rng.standard_normal(50)
    m = np.zeros(50)
    v = np.zeros(50)
    # independent scalar-loop reference
    f2 = flat.copy()
    m2 = np.zeros(50)
    v2 = np.zeros(50)
    lr, b1, b2, eps = 1e-3, 0.9, 0.999, 1e-7
    for t in range(1, 6):
        g = rng.standard_normal(50)
        flat, m, v = train.adam_step(flat, g, m, v, t, lr=lr)
        for i in range(50):
            m2[i] = b1 * m2[i] + (1 - b1) * g[i]
            v2[i] = b2 * v2[i] + (1 - b2) * g[i] * g[i]
            mh = m2[i] / (1 - b1**t)
            vh = v2[i] / (1 - b2**t)
            f2[i] = f2[i] - lr * mh / (np.sqrt(vh) + eps)
        assert np.array_equal(flat, f2), t


def _protocol_df(spark, n=96, L=16, C=3, seed=8):
    rng = np.random.default_rng(seed)
    templates = rng.standard_normal((C, L)) * 2.0
    y = rng.integers(0, C, n)
    X = templates[y] + 0.3 * rng.standard_normal((n, L))
    df = (
        spark.createDataFrame(
            [(i, X[i].tolist(), int(y[i])) for i in range(n)],
            "vec_id long, seq array<double>, label int",
        )
        .repartition(4)
        .cache()
    )
    df.count()
    return df, X, y


def test_reference_protocol_early_stops_and_restores_best(spark):
    """EarlyStopping(patience, restore_best): an early-stopped fit must
    return BIT-IDENTICAL weights to a fresh fit truncated at the best
    epoch (same seed -> same shard sequence -> same Adam trajectory)."""
    df, X, y = _protocol_df(spark)
    val = df  # validating on train is fine for the mechanics under test
    params, hist = train.fit_sequence_net(
        df, "rnn", 16, 3, epochs=40, lr=0.02, clip_norm=0.0, seed=6,
        optimizer="adam", batch_size=32, val_df=val, patience=3,
    )
    assert set(hist) == {"loss", "val_loss", "best_epoch", "stopped_epoch",
                         "early_stopped"}
    assert len(hist["loss"]) == len(hist["val_loss"]) == hist["stopped_epoch"]
    if hist["early_stopped"]:
        assert hist["stopped_epoch"] == hist["best_epoch"] + 3
        assert min(hist["val_loss"]) == hist["val_loss"][hist["best_epoch"] - 1]
        truncated, h2 = train.fit_sequence_net(
            df, "rnn", 16, 3, epochs=hist["best_epoch"], lr=0.02,
            clip_norm=0.0, seed=6, optimizer="adam", batch_size=32,
            val_df=val, patience=None,
        )
        assert not h2["early_stopped"]
        assert np.array_equal(
            train.flatten_params(params), train.flatten_params(truncated)
        )
        assert h2["loss"] == hist["loss"][: hist["best_epoch"]]
    df.unpersist()


def test_reference_protocol_matches_local_numpy_twin(spark):
    """Full-protocol parity: the in-task minibatch Adam fit tracks
    a single-process numpy twin of the identical trajectory (same
    shards, same updates) to fp-accumulation tolerance."""
    df, X, y = _protocol_df(spark)
    L, C, B, epochs = 16, 3, 32, 3
    params, hist = train.fit_sequence_net(
        df, "rnn", L, C, epochs=epochs, lr=0.01, clip_norm=0.0, seed=7,
        optimizer="adam", batch_size=B, val_df=None, patience=None,
    )
    # numpy twin
    p = train.init_params("rnn", L, C, seed=7)
    flat = train.flatten_params(p)
    m = np.zeros_like(flat)
    v = np.zeros_like(flat)
    ids = np.arange(len(y), dtype=np.int64)
    n_shards = -(-len(y) // B)
    t = 0
    for ep in range(1, epochs + 1):
        shard = train._shard_ids(ids, ep, n_shards)
        for s in range(n_shards):
            mask = shard == s
            if not mask.any():
                continue
            _, g = train.GRAD_FNS["rnn"](
                X[mask], y[mask], train.unflatten_params(p, flat)
            )
            t += 1
            flat, m, v = train.adam_step(
                flat, train.flatten_params(g) / mask.sum(), m, v, t, lr=0.01
            )
    assert np.allclose(
        train.flatten_params(params), flat, atol=1e-7
    ), np.abs(train.flatten_params(params) - flat).max()
    df.unpersist()


@pytest.mark.parametrize("arch", ["cnn", "rnn", "lstm"])
def test_weight_file_serving_bit_identical(spark, tmp_path, arch):
    """End-to-end weight-file SERVING for every sequence architecture
    (round-6 verdict #5, extending the ml_mlp_weights_roundtrip shape):
    fit in-engine -> save_params -> load_params in a 'new process' ->
    sequence_scorer (the distributed predict_batch_udf path) -> scored
    DataFrame.  The hard claim: serving the LOADED weight file is
    BIT-IDENTICAL to serving the in-memory model through the same
    distributed path — the file seam loses nothing.  Against the
    driver-local forward, parity is 1e-12 (worker BLAS kernels pick
    shape/alignment-dependent reduction orders — a one-ULP class, not
    a seam defect)."""
    from pyspark.sql import functions as F

    from web_attack_detection_spark.ml.inference import sequence_scorer

    L = 32 if arch == "cnn" else 12
    n, C = 80, 3
    rng = np.random.default_rng(13)
    X = rng.standard_normal((n, L))
    y = rng.integers(0, C, n)
    df = (
        spark.createDataFrame(
            [(i, X[i].tolist(), int(y[i])) for i in range(n)],
            "vec_id long, seq array<double>, label int",
        )
        .repartition(5)
        .cache()  # both serve passes read the SAME partitions/batches
    )
    df.count()
    params, _ = train.fit_sequence_net(df, arch, L, C, epochs=2, lr=0.05, seed=21)
    f = str(tmp_path / f"{arch}.json")
    train.save_params(params, f)
    loaded = train.load_params(f)

    def served(p):
        scorer = sequence_scorer(train.FORWARD_FNS[arch], p, L)
        rows = df.select("vec_id", scorer(F.col("seq")).alias("p")).collect()
        return np.stack(
            [np.array(r["p"]) for r in sorted(rows, key=lambda r: r["vec_id"])]
        )

    got_loaded = served(loaded)
    got_memory = served(params)
    assert got_loaded.shape == (n, C)
    assert np.array_equal(got_loaded, got_memory), (
        np.abs(got_loaded - got_memory).max()
    )
    want = train.FORWARD_FNS[arch](X, params)  # driver-local truth
    assert np.allclose(got_loaded, want, atol=1e-12), (
        np.abs(got_loaded - want).max()
    )
    df.unpersist()


def _assert_fused_equals_local_twin(spark, batch_size, with_val, **kw):
    df, X, y = _protocol_df(spark)
    ids = np.arange(len(y), dtype=np.int64)
    p_f, h_f = train.fit_sequence_net(
        df, "rnn", 16, 3, seed=9, batch_size=batch_size,
        val_df=df if with_val else None, **kw,
    )
    # local twin on identical rows
    template = train.init_params("rnn", 16, 3, seed=9)
    flat0 = train.flatten_params(template)
    n_shards = -(-len(y) // batch_size) if batch_size else 1
    Xv, yv = (X, y) if with_val else (None, None)
    flat_l, h_l = train.protocol_fit_arrays(
        X, y, ids, Xv, yv, "rnn", template, flat0, n_shards, **kw
    )
    assert np.allclose(train.flatten_params(p_f), flat_l, atol=5e-6), (
        np.abs(train.flatten_params(p_f) - flat_l).max()
    )
    assert np.allclose(h_f["loss"], h_l["loss"], atol=1e-7)
    assert np.allclose(h_f["val_loss"], h_l["val_loss"], atol=1e-7)
    df.unpersist()


def test_fused_equals_local_twin_bit_exact(spark):
    """A protocol fit runs protocol_fit_arrays inside a worker task —
    same code, same rows, same order as calling it locally, so the
    trajectories must agree to the cross-process BLAS one-ULP class
    (openblas picks alignment-dependent kernels, so driver and worker
    processes can differ in the last bit per gemm — the same effect
    test_weight_file_serving_bit_identical documents)."""
    _assert_fused_equals_local_twin(
        spark, 32, True,
        epochs=6, lr=0.02, clip_norm=0.0, optimizer="adam", patience=None,
    )


def test_fullbatch_sgd_equals_local_twin_bit_exact(spark):
    """The default full-batch momentum-SGD fit is the same kernel with
    one shard: one clipped gradient over every row per epoch."""
    _assert_fused_equals_local_twin(
        spark, None, False,
        epochs=6, lr=0.2, clip_norm=5.0, optimizer="sgd", patience=None,
    )


def test_mlp_protocol_query_early_stops(spark):
    """ml_mlp_train_protocol: the reference M1 stack trained under the
    exact protocol must early-stop inside the 50-epoch cap (the events
    labels are noise vs the features, so the val-loss plateau is
    quick) with best-epoch restore and accuracy within noise of the
    majority baseline."""
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    row = QUERIES["ml_mlp_train_protocol"].fn(spark, SF_ORACLE).collect()[0]
    assert row["n_train"] > 0 and row["n_test"] > 0
    assert row["early_stopped"], row
    assert row["epochs_run"] < 50
    assert row["best_epoch"] == row["epochs_run"] - 5
    assert row["test_accuracy"] >= row["majority_share"] - 0.05, row


def test_shard_hash_epoch_reshuffles():
    """The epoch-salted shard mixer: minibatch COMPOSITION actually
    changes across epochs at the independent-random rate
    2*(1/n)*(1-1/n) — the r6 advice found the old additive salt only
    rotated shard labels."""
    ids = np.arange(2000, dtype=np.int64)
    n = 7
    s1 = train._shard_ids(ids, 1, n)
    s2 = train._shard_ids(ids, 2, n)
    co1 = s1[:, None] == s1[None, :]
    co2 = s2[:, None] == s2[None, :]
    frac = float((co1 != co2).mean())
    ideal = 2 * (1 / n) * (1 - 1 / n)
    assert abs(frac - ideal) < 0.03, frac  # sequential ids, full avalanche


def test_empty_validation_set_fails_loudly(spark):
    """An accidentally-empty val_df must raise, not freeze best
    weights at epoch 1 via a spurious 0.0 val loss (r6 advice)."""
    df, X, y = _protocol_df(spark)
    empty_val = df.filter("label > 99")
    with pytest.raises(ValueError, match="empty validation set"):
        train.fit_sequence_net(
            df, "rnn", 16, 3, epochs=3, lr=0.02, clip_norm=0.0, seed=6,
            optimizer="adam", batch_size=32, val_df=empty_val, patience=2,
        )
    df.unpersist()


@pytest.mark.parametrize(
    "arch,seq_len,p",
    [("mlp", 12, 0.3), ("cnn", 32, 0.5), ("rnn", 6, 0.3), ("lstm", 6, 0.3)],
)
def test_dropout_gradient_matches_finite_differences(arch, seq_len, p):
    """Inverted dropout with a HELD mask (same-seeded generator
    recreated per call) must still satisfy the FD gradient check —
    the gold-standard proof the mask is applied consistently in
    forward and backward."""
    params = train.init_params(arch, seq_len, 3, seed=1)
    x = RNG.standard_normal((4, seq_len))
    y = RNG.integers(0, 3, 4)

    def f(pr):
        return train.GRAD_FNS[arch](
            x, y, pr, dropout=p, rng=np.random.default_rng(77)
        )

    _, grads = f(params)
    flat = train.flatten_params(params)
    gflat = train.flatten_params(grads)
    idxs = RNG.choice(flat.size, size=min(20, flat.size), replace=False)
    eps = 1e-5
    worst = 0.0
    for i in idxs:
        fp = flat.copy(); fp[i] += eps
        lp, _ = f(train.unflatten_params(params, fp))
        fm = flat.copy(); fm[i] -= eps
        lm, _ = f(train.unflatten_params(params, fm))
        num = (lp - lm) / (2 * eps)
        worst = max(worst, abs(num - gflat[i]) / max(1e-8, abs(num) + abs(gflat[i])))
    assert worst < 1e-4, (arch, worst)


def test_dropout_zero_is_bit_identical_to_legacy():
    """dropout=0.0 must leave every gradient kernel byte-identical to
    the pre-dropout code path (the existing parity tests' contract)."""
    for arch, L in (("mlp", 12), ("cnn", 32), ("rnn", 6), ("lstm", 6)):
        params = train.init_params(arch, L, 3, seed=2)
        x = RNG.standard_normal((5, L))
        y = RNG.integers(0, 3, 5)
        l0, g0 = train.GRAD_FNS[arch](x, y, params)
        l1, g1 = train.GRAD_FNS[arch](
            x, y, params, dropout=0.0, rng=np.random.default_rng(1)
        )
        assert l0 == l1
        assert np.array_equal(
            train.flatten_params(g0), train.flatten_params(g1)
        )


def test_dropout_protocol_reproducible_and_restores_best(spark):
    """The (seed, epoch, step)-seeded masks make the dropout
    trajectory reproducible: two identical fits are bit-identical,
    and the early-stop truncated-refit restore parity still holds."""
    df, X, y = _protocol_df(spark)
    kw = dict(
        epochs=30, lr=0.02, clip_norm=0.0, seed=6, optimizer="adam",
        batch_size=32, val_df=df, patience=3, dropout=0.3,
    )
    p1, h1 = train.fit_sequence_net(df, "rnn", 16, 3, **kw)
    p2, h2 = train.fit_sequence_net(df, "rnn", 16, 3, **kw)
    assert h1 == h2
    assert np.array_equal(train.flatten_params(p1), train.flatten_params(p2))
    assert set(h1) == {"loss", "val_loss", "best_epoch", "stopped_epoch",
                       "early_stopped"}
    if h1["early_stopped"]:
        assert h1["stopped_epoch"] == h1["best_epoch"] + 3
        trunc, h3 = train.fit_sequence_net(
            df, "rnn", 16, 3, **{**kw, "epochs": h1["best_epoch"],
                                 "patience": None},
        )
        assert np.array_equal(
            train.flatten_params(p1), train.flatten_params(trunc)
        )
    df.unpersist()


def test_dropout_requires_fused_minibatch(spark):
    """Dropout masks are seeded per minibatch step inside the protocol
    kernel, so a full-batch fit (momentum SGD or Adam) with
    dropout must raise rather than silently train without it."""
    df, X, y = _protocol_df(spark)
    for kw in ({}, {"optimizer": "adam", "val_df": df}):
        with pytest.raises(ValueError, match="minibatch"):
            train.fit_sequence_net(
                df, "rnn", 16, 3, epochs=2, lr=0.02, seed=1, dropout=0.3, **kw
            )
    df.unpersist()


def test_seqnet_served_confusion_paths_agree(spark):
    """ml_seqnet_served_confusion (r8): the codegen'd integer hard-tanh
    recurrence and the numpy int64 Arrow path score every user
    identically (audit boolean), and the confusion relation partitions
    exactly the corpus's user population."""
    import duckdb

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["ml_seqnet_served_confusion"].fn(spark, sf).collect()
    assert rows
    assert all(r["audit_numpy_agrees"] is True for r in rows)
    n_users = duckdb.sql(
        f"SELECT COUNT(DISTINCT user_id) FROM '{sf}/events.parquet'"
    ).fetchone()[0]
    assert sum(r["n_users"] for r in rows) == n_users
    assert {r["label_type"] for r in rows} <= {
        "click", "error", "purchase", "signup", "view"
    }


def test_convnet_served_confusion_paths_agree(spark):
    """ml_convnet_served_confusion (r8): the codegen'd integer
    conv1d+clamp+max-pool and the numpy int64 Arrow path score every
    user identically, and the confusion relation partitions exactly
    the corpus's user population — together with the recurrent check,
    both serving architectures are value-pinned."""
    import duckdb

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["ml_convnet_served_confusion"].fn(spark, sf).collect()
    assert rows
    assert all(r["audit_numpy_agrees"] is True for r in rows)
    n_users = duckdb.sql(
        f"SELECT COUNT(DISTINCT user_id) FROM '{sf}/events.parquet'"
    ).fetchone()[0]
    assert sum(r["n_users"] for r in rows) == n_users
