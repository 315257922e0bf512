"""Distributed inference (predict_batch_udf) correctness vs a local
numpy reference, and the visualization sinks' fallback path."""

from __future__ import annotations

import tempfile
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from web_attack_detection_spark.io.sources import load_table
from web_attack_detection_spark.ml.inference import batch_score
from web_attack_detection_spark.ml.pipeline import confusion_matrix
from web_attack_detection_spark.viz import (
    make_run_dir,
    plot_confusion,
    plot_history,
    plot_model_comparison,
    plot_training_times,
)

from .conftest import SF_SMOKE


def test_batch_score_matches_local_numpy(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").limit(500).select(
        "l_orderkey",
        "l_linenumber",
        F.array(
            F.col("l_quantity").cast("double"),
            F.col("l_discount").cast("double"),
            F.col("l_tax").cast("double"),
        ).alias("feats"),
    )
    w = [[0.4, -0.2, 0.1], [-0.3, 0.5, 0.0], [0.2, 0.1, -0.4]]
    b = [0.05, -0.05, 0.0]
    scored = batch_score(li, "feats", w, b)
    rows = scored.collect()
    assert len(rows) == 500
    wm, bm = np.asarray(w), np.asarray(b)
    for r in rows[:50]:
        x = np.asarray(r["feats"])
        logits = x @ wm + bm
        logits -= logits.max()
        e = np.exp(logits)
        want = e / e.sum()
        assert np.allclose(np.asarray(r["probabilities"]), want, atol=1e-12)
        assert r["prediction"] == int(want.argmax())


def test_batch_score_is_distributed_not_driver(spark):
    """The physical plan must contain the Arrow Python eval node (the
    scoring runs ON executors), and no collect happens before it."""
    import contextlib
    import io

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        F.array(F.col("l_quantity").cast("double")).alias("feats")
    )
    scored = batch_score(li, "feats", [[1.0, -1.0]], [0.0, 0.0])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scored.explain("extended")
    assert "ArrowEvalPython" in buf.getvalue()


def test_viz_sinks_fallback_write_data(spark):
    with tempfile.TemporaryDirectory() as d:
        run = make_run_dir(base=d, stamp="t1")
        assert run == Path(d) / "run_t1"
        p1 = plot_history({"acc": [0.5, 0.7], "loss": [1.0, 0.4]}, run, "mlp")
        p2 = plot_model_comparison({"mlp": 0.9, "cnn": 0.8}, run)
        p3 = plot_training_times({"mlp": 12.5}, run)
        ev = load_table(spark, SF_SMOKE, "events").select(
            F.col("event_type").alias("label"),
            F.when(F.col("value") >= 100, "high").otherwise("low").alias("prediction"),
        )
        p4 = plot_confusion(confusion_matrix(ev), run)
        # one run dir; every sink returns a rendered SVG and leaves a
        # CSV data sidecar next to it (4 sinks × 2 artifacts)
        for p in (p1, p2, p3, p4):
            assert p.parent == run
            assert p.suffix == ".svg"
            assert p.stat().st_size > 0
            assert p.with_suffix(".csv").stat().st_size > 0
        assert len(list(run.iterdir())) == 8
        # each SVG is well-formed XML containing the expected mark type
        import xml.etree.ElementTree as ET

        ns = "{http://www.w3.org/2000/svg}"
        for p, mark in [
            (p1, "polyline"),
            (p2, "rect"),
            (p3, "rect"),
            (p4, "rect"),
        ]:
            root = ET.parse(p).getroot()
            assert root.tag == f"{ns}svg"
            assert root.iter(f"{ns}{mark}") is not None
            assert any(True for _ in root.iter(f"{ns}{mark}"))


def test_viz_sinks_total_on_degenerate_input():
    """svg charts never raise on empty input (ADVICE r2): axes-only
    SVG comes back for empty/zero-length series and empty bar lists."""
    import xml.etree.ElementTree as ET

    from web_attack_detection_spark.svg import bar_chart, line_chart

    for doc in (
        line_chart({}, "empty"),
        line_chart({"a": []}, "empty series"),
        bar_chart([], "empty"),
    ):
        root = ET.fromstring(doc)
        assert root.tag == "{http://www.w3.org/2000/svg}svg"


def test_prepare_raw_keeps_full_numeric_array(spark):
    """ADVICE r2 high regression: the raw preparation must emit the
    hand-built len(_NUMERIC_RAW)-dim array (value, k, hour, dom), not a
    pipeline-reassembled 1-dim vector, with labels from the given map."""
    from web_attack_detection_spark.plans.flagship import derive_wide_events
    from web_attack_detection_spark.runner import _NUMERIC_RAW, prepare_raw

    ev = derive_wide_events(load_table(spark, SF_SMOKE, "events"))
    label_map = {"view": 0.0, "click": 1.0, "purchase": 2.0, "refund": 3.0}
    out = prepare_raw(ev, label_map)
    assert out.columns == ["features", "label"]
    widths = out.select(F.size("features").alias("w")).distinct().collect()
    assert [r["w"] for r in widths] == [len(_NUMERIC_RAW)]
    # features are the raw (zero-filled) columns, bit-exact
    # (multiset compare — row order is plan-dependent)
    raw = ev.fillna(0.0, subset=_NUMERIC_RAW).collect()
    want = sorted(
        (tuple(float(r[c]) for c in _NUMERIC_RAW), label_map[r["event_type"]])
        for r in raw
        if r["event_type"] in label_map
    )
    got = sorted((tuple(r["features"]), r["label"]) for r in out.collect())
    assert got == want


def test_run_pipeline_reference_main_parity(spark):
    """runner.run_pipeline = the reference's main(): both preparations,
    timed battery, evaluation, and ALL four viz artifact families in
    one run dir, plus the persisted summary."""
    from web_attack_detection_spark.runner import run_pipeline

    with tempfile.TemporaryDirectory() as d:
        out = run_pipeline(
            spark, SF_SMOKE, out_dir=d, models=("logreg", "nb")
        ).collect()
        assert len(out) == 4  # 2 models x 2 preparations
        assert {(r["model"], r["prep"]) for r in out} == {
            ("logreg", "raw"),
            ("logreg", "processed"),
            ("nb", "raw"),
            ("nb", "processed"),
        }
        for r in out:
            assert 0.0 <= r["accuracy"] <= 1.0
            assert r["train_seconds"] > 0
        run = next(Path(d).iterdir())
        names = {p.name for p in run.iterdir()}
        assert {
            "battery_history.svg",
            "model_comparison.svg",
            "training_times.svg",
            "confusion.svg",
            "summary.csv",
        } <= names


def test_protocol_history_flows_through_v1_plot(spark, tmp_path):
    """Round 6: the reference-protocol fit returns the exact
    ``history.history`` dict shape Keras produces ({'loss': [...],
    'val_loss': [...]}), so it must flow straight through the V1
    loss-curve artifact writer (reference utils plot of model.fit
    history) — loss and val_loss as two labeled series, one point per
    epoch run."""
    import numpy as np

    from web_attack_detection_spark.ml import train
    from web_attack_detection_spark.viz import plot_history

    rng = np.random.default_rng(5)
    n, L, C = 96, 12, 3
    X = rng.standard_normal((n, L))
    y = rng.integers(0, C, n)
    df = spark.createDataFrame(
        [(i, X[i].tolist(), int(y[i])) for i in range(n)],
        "vec_id long, seq array<double>, label int",
    ).cache()
    df.count()
    _, hist = train.fit_sequence_net(
        df, "mlp", L, C, epochs=4, lr=1e-3, clip_norm=0.0, seed=3,
        optimizer="adam", batch_size=32, val_df=df, patience=None,
    )
    out = plot_history(
        {"loss": hist["loss"], "val_loss": hist["val_loss"]},
        tmp_path,
        "mlp_protocol",
    )
    assert out.exists()
    csv = (tmp_path / "mlp_protocol_history.csv").read_text().splitlines()
    assert csv[0] == "epoch,loss,val_loss"
    assert len(csv) == 1 + len(hist["loss"]) == 5
    df.unpersist()
